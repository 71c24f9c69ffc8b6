"""Per-layer metrics of the traced run, named by the package module they
measure, plus the process facts every run records.

Two kinds of figure come from here: probes that time one layer alone over
a table materialized beforehand (the extract split, the curation
operators, the per-row Python parsers), and figures read back from Spark's
counters for the traced pass (see trace.SparkCounters). Every traced run
reports every name in ``UNITS``; a layer the workload does not run reads 0.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

from llm_document_parser_spark import datagen
from llm_document_parser_spark.html_extract import extract_main_text, sniff_doc_kind
from llm_document_parser_spark.minipdf import extract_pdf_text
from llm_document_parser_spark.operators import decontaminate, dedup, textstats
from llm_document_parser_spark.operators.charset import decode_payload
from llm_document_parser_spark.operators.contacts import contacts_map
from llm_document_parser_spark.operators.extract_udfs import payload_text_udf
from llm_document_parser_spark.operators.features import features_struct
from llm_document_parser_spark.operators.kind import doc_kind_col, document_type_col
from llm_document_parser_spark.operators.names import holder_names_struct
from llm_document_parser_spark.operators.ner import entities_map
from llm_document_parser_spark.operators.patterns import patterns_map
from llm_document_parser_spark.operators.textclean import clean_text_col
from llm_document_parser_spark.pipeline import extract_pipeline, text_spans_col

# every per-layer metric and its unit, in BENCHMARK.json order
UNITS = {
    "session.start_s": "s",
    "datagen.write_pages_s": "s",
    "trace.overhead_s": "s",
    "leaked_rdds": "count",
    "failed_frac": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.core_busy_frac": "ratio",
    "scan.s": "s",
    "kind.doc_kind_s": "s",
    "kind.document_type_s": "s",
    "extract_udfs.s": "s",
    "extract_udfs.python_total_s": "s",
    "extract_udfs.python_boot_s": "s",
    "extract_udfs.python_init_s": "s",
    "extract_udfs.bytes_sent": "bytes",
    "extract_udfs.bytes_received": "bytes",
    "extract_udfs.rows": "count",
    "html_extract.us_per_doc": "us",
    "minipdf.us_per_doc": "us",
    "charset.us_per_doc": "us",
    "textclean.s": "s",
    "patterns.s": "s",
    "contacts.s": "s",
    "names.s": "s",
    "features.s": "s",
    "ner.s": "s",
    "pipeline.text_spans_s": "s",
    "pipeline.noop_s": "s",
    "extract.unattributed_s": "s",
    "lineage.groups": "count",
    "lineage.overhead_s": "s",
    "lineage.commit_s": "s",
    "lineage.recount_s": "s",
    "lineage.input_bytes_per_table_byte": "ratio",
    "lineage.output_bytes": "bytes",
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.jobs_per_batch": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.cc_iterations": "count",
    "dedup.verified_near_dup_pairs_s": "s",
    "dedup.connected_components_s": "s",
    "textstats.repetition_stats_s": "s",
    "decontaminate.contamination_report_s": "s",
    "curate.verdicts_s": "s",
}
ZERO = {k: (0, u) for k, u in UNITS.items()}
# the extract split: these parts, the lineage overhead and the
# unattributed remainder add up to the untraced wall_s
SPLIT_PARTS = (
    "scan.s", "kind.doc_kind_s", "extract_udfs.s", "textclean.s",
    "kind.document_type_s", "patterns.s", "contacts.s", "names.s",
    "features.s", "ner.s", "pipeline.text_spans_s",
)
PROBE_REPEATS = 3
PER_ROW_PAGES = 600


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class GroupSpans:
    """A ``run_with_lineage`` transform that opens a ``lineage.group`` span
    per commit group, so each group's jobs get their own job group."""

    def __init__(self, tracer, fn):
        self.tracer, self.fn, self.open = tracer, fn, None

    def __enter__(self):
        return self

    def __call__(self, df):
        self._close()
        self.open = self.tracer.begin("lineage.group")
        return self.fn(df)

    def _close(self):
        if self.open is not None:
            self.tracer.end(self.open)
            self.open = None

    def __exit__(self, *exc):
        self._close()


def timed(run, name: str, fn) -> float:
    """Median seconds of ``fn()`` over PROBE_REPEATS calls, in spans."""
    times = []
    for _ in range(PROBE_REPEATS):
        with run.tracer.span(name) as s:
            fn()
        times.append(s.seconds)
    return statistics.median(times)


def self_time(run, name: str, table, base: list[str], expr) -> float:
    """Seconds one column expression adds to a scan of ``table``."""
    full = timed(run, name, lambda: noop(table.select(*base, expr.alias("probe"))))
    scan = timed(run, name + ".base", lambda: noop(table.select(*base)))
    return full - scan


def materialize(run, df, name: str):
    path = run.path(name)
    df.write.mode("overwrite").parquet(path)
    return run.spark.read.parquet(path)


def dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


# --- extract -------------------------------------------------------------

def extract_probes(run, wl, untraced_wall_s: float) -> dict:
    """The extract layer split plus the per-row Python timings."""
    pages = wl.pages
    html, kind = F.col("html"), F.col("doc_kind")
    kinds = materialize(run, pages.select("url", "html", doc_kind_col(html).alias("doc_kind")),
                        "split-kinds")
    raw = materialize(run, kinds.select("url", payload_text_udf(html, kind).alias("raw_text")),
                      "split-raw")
    t = F.col("t")
    clean = materialize(
        run,
        raw.select("url", clean_text_col(F.col("raw_text")).alias("t"))
        .withColumn("document_type", document_type_col(t))
        .withColumn("patterns", patterns_map(t, F.col("document_type"))),
        "split-clean",
    )
    m = {
        "scan.s": timed(run, "scan", lambda: noop(pages)),
        "kind.doc_kind_s": self_time(run, "kind.doc_kind_col", pages, ["html"], doc_kind_col(html)),
        "extract_udfs.s": self_time(run, "extract_udfs.payload_text_udf", kinds,
                                    ["html", "doc_kind"], payload_text_udf(html, kind)),
        "textclean.s": self_time(run, "textclean.clean_text_col", raw, ["raw_text"],
                                 clean_text_col(F.col("raw_text"))),
        "kind.document_type_s": self_time(run, "kind.document_type_col", clean, ["t"],
                                          document_type_col(t)),
        "patterns.s": self_time(run, "patterns.patterns_map", clean, ["t", "document_type"],
                                patterns_map(t, F.col("document_type"))),
        "contacts.s": self_time(run, "contacts.contacts_map", clean, ["t"], contacts_map(t)),
        "names.s": self_time(run, "names.holder_names_struct", clean, ["t"],
                             holder_names_struct(t)),
        "features.s": self_time(run, "features.features_struct", clean, ["t"],
                                features_struct(t)),
        "ner.s": self_time(run, "ner.entities_map", clean, ["t"], entities_map(t)),
        "pipeline.text_spans_s": self_time(run, "pipeline.text_spans_col", clean,
                                           ["t", "patterns"], text_spans_col(t, F.col("patterns"))),
        "pipeline.noop_s": timed(run, "pipeline.extract_pipeline",
                                 lambda: noop(extract_pipeline(pages))),
    }
    m["lineage.overhead_s"] = untraced_wall_s - m["pipeline.noop_s"]
    m["extract.unattributed_s"] = m["pipeline.noop_s"] - sum(m[k] for k in SPLIT_PARTS)
    m.update(per_row_python(run.seed))
    return {k: (v, UNITS[k]) for k, v in m.items()}


def per_row_python(seed: int) -> dict:
    """Microseconds per document of each Python parser, outside Spark,
    over the generated payloads of its kind."""
    payloads = [datagen.generate_page(seed, i)[2] for i in range(PER_ROW_PAGES)]
    by_kind: dict[str, list[bytes]] = {}
    for p in payloads:
        by_kind.setdefault(sniff_doc_kind(p), []).append(p)
    fns = {
        "html_extract.us_per_doc": ("html", lambda p: extract_main_text(decode_payload(p)[0])),
        "minipdf.us_per_doc": ("pdf", extract_pdf_text),
        "charset.us_per_doc": ("text", decode_payload),
    }
    out = {}
    for name, (kind, fn) in fns.items():
        docs = by_kind.get(kind, [])
        t0 = time.perf_counter()
        for p in docs:
            fn(p)
        out[name] = (time.perf_counter() - t0) / len(docs) * 1e6 if docs else 0.0
    return out


def _job_seconds(j: dict) -> float:
    def ts(s: str) -> dt.datetime:
        return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")

    if not j.get("completionTime"):
        return 0.0
    return (ts(j["completionTime"]) - ts(j["submissionTime"])).total_seconds()


def extract_counted(run, wl, traced, counters, groups, jobs, totals) -> dict:
    group_spans = [s for s in run.tracer.spans if s.name == "lineage.group" and s.group]
    group_spans = [s for s in group_spans if s.start >= traced.out["span"].start]
    commit = recount = 0.0
    for s in group_spans:
        for j in groups.get(s.group, []):
            if j["name"].startswith("parquet"):
                commit += _job_seconds(j)
            elif j["name"].startswith("collect"):
                recount += _job_seconds(j)
    m = {
        "lineage.groups": len(group_spans),
        "lineage.commit_s": commit,
        "lineage.recount_s": recount,
        "lineage.input_bytes_per_table_byte":
            totals["spark.input_bytes"] / dir_bytes(wl.pages_path),
        "lineage.output_bytes": dir_bytes(traced.out["results"]),
    }
    py = counters.python_eval({j["jobId"] for j in jobs})
    m.update({f"extract_udfs.{k}": v for k, v in py.items()})
    m.update(stream_layers(run, wl, groups))
    return {k: (v, UNITS[k]) for k, v in m.items()}


def stream_layers(run, wl, groups) -> dict:
    """The stream check's micro-batches, from ``recentProgress`` and the
    jobs Spark ran under the stream's run id."""
    progress = wl.stream["progress"]
    n = len(progress)

    def total(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    return {
        "stream.batches": n,
        "stream.add_batch_s": total("addBatch"),
        "stream.query_planning_s": total("queryPlanning"),
        "stream.wal_commit_s": total("walCommit"),
        "stream.jobs_per_batch": len(groups.get(wl.stream["run_id"], [])) / n if n else 0,
    }


# --- curate ---------------------------------------------------------------

def curate_probes(run, wl, untraced_wall_s: float) -> dict:
    from curate_job import curate

    docs, items = wl.docs, wl.items
    ids = dict(id_col="url", text_col="extracted_text")
    geometry = dict(num_hashes=64, bands=8, hash_fn="fast")
    candidates = dedup.minhash_candidate_pairs(docs, **ids, **geometry).count()
    pairs_df = dedup.verified_near_dup_pairs(
        docs, **ids, **geometry, threshold=wl.kw["threshold"]
    ).select("id_a", "id_b")
    m = {
        "dedup.candidate_pairs": candidates,
        "dedup.verified_near_dup_pairs_s": timed(
            run, "dedup.verified_near_dup_pairs", lambda: noop(pairs_df)),
    }
    pairs = materialize(run, pairs_df, "probe-pairs")
    m["dedup.verified_pairs"] = pairs.count()
    m["dedup.verify_yield"] = m["dedup.verified_pairs"] / candidates if candidates else 0.0
    with run.tracer.span("dedup.connected_components.iterations") as s:
        noop(dedup.connected_components(pairs))
    wl.cc_span = s
    m["dedup.connected_components_s"] = timed(
        run, "dedup.connected_components", lambda: noop(dedup.connected_components(pairs)))
    m["textstats.repetition_stats_s"] = timed(
        run, "textstats.repetition_stats",
        lambda: noop(textstats.repetition_stats(docs, **ids, unit_sep=" ")))
    m["decontaminate.contamination_report_s"] = timed(
        run, "decontaminate.contamination_report",
        lambda: noop(decontaminate.contamination_report(docs, items, **ids, n=13, min_hits=1)))
    m["curate.verdicts_s"] = timed(
        run, "curate_job.curate",
        lambda: noop(curate(wl.results, **ids, benchmark=items, **wl.kw)[1]))
    return {k: (v, UNITS[k]) for k, v in m.items()}


def curate_counted(run, wl, traced, counters, groups, jobs, totals) -> dict:
    # connected_components checkpoints its edges and initial labels once,
    # then the new labels once per fixpoint iteration
    cc_jobs = groups.get(wl.cc_span.group, [])
    checkpoints = sum(j["name"].startswith("localCheckpoint") for j in cc_jobs)
    m = {
        "dedup.cc_iterations": max(checkpoints - 2, 0),
        "lineage.groups": run.spark.read.parquet(traced.out["output"] + "_lineage")
        .select("started_at").distinct().count(),
        "lineage.output_bytes": dir_bytes(traced.out["output"]),
    }
    return {k: (v, UNITS[k]) for k, v in m.items()}


PROBES = {"extract": extract_probes, "curate": curate_probes}
COUNTED = {"extract": extract_counted, "curate": curate_counted}


def persisted_rdds(spark) -> int:
    """RDDs currently persisted in the application (the leak count's base)."""
    return len(spark.sparkContext._jsc.getPersistentRDDs())


# --- processes ------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process's descendants: the JVM and Spark's
    Python daemon and workers."""
    kb = 0
    for pid in descendants(os.getpid()):
        v = _status(pid, "VmHWM")
        if v:
            kb += int(v.split()[0])
    return kb / 1024


def cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def foreign_jvms() -> list[int]:
    """Live java processes that this run did not start."""
    mine = set(descendants(os.getpid()))
    return [
        int(d) for d in os.listdir("/proc")
        if d.isdigit() and int(d) not in mine and _status(int(d), "Name") == "java"
    ]
