"""spark-submit entry point for the corpus curation pass over extraction
output — the dedup/gate cascade a training-data pipeline runs after
`jobs/extract_job.py` (reference analog: the reference stops at per-doc
extraction; this tier is the engine's training-pipeline extension).

Cascade (same composition as the oracle-verified `curation_funnel`
catalog query, run over real extracted text):

1. MinHash near-dup candidates at the production r=8 geometry (xxhash64
   fast signatures), Jaccard-verified at --threshold;
2. connected components → per-document canonical keep-id;
3. optional decontamination gate (--benchmark: eval items whose n-grams
   must not leak into training data), language gate (--lang), quality
   gate (--min-quality), repetition gate (--max-dup-frac);
4. kept documents written to --output; a per-verdict funnel report is
   printed as one JSON line (and written next to the output when the
   output is a local path — object-store outputs get stdout only).

Resumable in two phases (a 100 TB curation pass must not restart from
zero): phase 1 materializes the SMALL per-doc verdict table (id + verdict,
no text) once at ``--output`` + ``_verdicts`` — the global dedup/gate
computation happens exactly here; phase 2 streams the kept corpus through
``lineage.run_with_lineage`` (url-hash bucket groups, commit-after-group,
same machinery as jobs/extract_job.py). Re-invoking with the same
--job-id reuses a committed verdict table (``_SUCCESS``-checked) and
resumes the kept-corpus write from the last committed bucket group.

Cluster usage:

    zip -r engine.zip llm_document_parser_spark
    spark-submit --py-files engine.zip jobs/curate_job.py \\
        --input  s3://bucket/results/  \\
        --output s3://bucket/curated/

Local smoke:

    python jobs/curate_job.py --input /tmp/results --output /tmp/curated
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from llm_document_parser_spark import lineage
from llm_document_parser_spark.materialize import storage_scope
from llm_document_parser_spark.operators import decontaminate, dedup, textstats
from llm_document_parser_spark.session import get_spark


def curate(
    results,
    id_col: str = "url",
    text_col: str = "extracted_text",
    threshold: float = 0.8,
    lang: str = "en",
    min_quality: float = 0.8,
    max_dup_frac: float = 0.6,
    benchmark=None,
    decon_n: int = 13,
    decon_min_hits: int = 1,
    c4_min_sentences: int | None = None,
):
    """(kept DataFrame, verdict-per-doc DataFrame) for the cascade above.

    ``benchmark`` (optional DataFrame of ``(bench_id, text)`` eval items)
    adds the decontamination gate between near-dup and language: any doc
    sharing ≥ ``decon_min_hits`` distinct ``decon_n``-grams with a
    benchmark item gets verdict ``contaminated`` (broadcast n-gram join —
    see operators/decontaminate.py).

    ``c4_min_sentences`` (optional) adds the C4 page-veto gate
    (operators/c4.py: lorem-ipsum / curly-brace / blocked-word / post-
    line-filter sentence minimum) as the LAST gate — verdict ``c4``.
    Page vetoes only: C4's line REWRITES change document bytes, which
    phase 2's semi-join re-read cannot represent; run the rewrite as its
    own corpus transform when wanted."""
    docs = results.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )
    pairs = dedup.verified_near_dup_pairs(
        docs, id_col=id_col, text_col=text_col,
        num_hashes=64, bands=8, threshold=threshold, hash_fn="fast",
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs).withColumnRenamed("id", id_col)
    rep = textstats.repetition_stats(
        docs, id_col=id_col, text_col=text_col, unit_sep=" "
    ).select(id_col, "dup_unit_frac")
    text = F.col(text_col)
    scored = (
        docs.withColumn("lang_pred", textstats.lang_id(text))
        .withColumn("quality", textstats.quality_score(text))
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .join(rep, id_col, "left")
        .withColumn("dup_unit_frac", F.coalesce("dup_unit_frac", F.lit(0.0)))
    )
    if benchmark is not None:
        flagged = decontaminate.contamination_report(
            docs, benchmark, id_col=id_col, text_col=text_col,
            n=decon_n, min_hits=decon_min_hits,
        ).select(id_col, F.lit(True).alias("contaminated"))
        scored = scored.join(flagged, id_col, "left").withColumn(
            "contaminated", F.coalesce("contaminated", F.lit(False))
        )
    else:
        scored = scored.withColumn("contaminated", F.lit(False))
    if c4_min_sentences is not None:
        from llm_document_parser_spark.operators.c4 import c4_clean

        c4 = c4_clean(
            docs, id_col=id_col, text_col=text_col,
            min_sentences=c4_min_sentences,
        ).select(id_col, F.col("passes").alias("c4_pass"))
        scored = scored.join(c4, id_col, "left").withColumn(
            "c4_pass", F.coalesce("c4_pass", F.lit(False))
        )
    else:
        scored = scored.withColumn("c4_pass", F.lit(True))
    verdict = (
        F.when(F.col("component") != F.col(id_col), F.lit("near_dup"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(F.col("lang_pred") != lang, F.lit("lang"))
        .when(F.col("quality") < min_quality, F.lit("quality"))
        .when(F.col("dup_unit_frac") > max_dup_frac, F.lit("repetition"))
        .when(~F.col("c4_pass"), F.lit("c4"))
        .otherwise(F.lit("kept"))
    )
    labeled = scored.withColumn("verdict", verdict)
    kept = labeled.filter(F.col("verdict") == "kept").drop(
        "lang_pred", "quality", "component", "dup_unit_frac", "contaminated",
        "c4_pass", "verdict",
    )
    return kept, labeled


def run_curation(
    spark,
    results,
    output: str,
    lineage_path: str | None = None,
    job_id: str | None = None,
    num_buckets: int = 64,
    buckets_per_commit: int = 8,
    id_col: str = "url",
    text_col: str = "extracted_text",
    budget_tokens: int | None = None,
    budget_group: str | None = None,
    tokenizer: str = "whitespace",
    encoder_factory=None,
    pack_seq_len: int | None = None,
    pack_shards: int = 64,
    **curate_kwargs,
) -> dict:
    """Resumable two-phase curation (see module docstring). Returns the
    funnel report dict.

    ``budget_tokens`` caps the kept corpus at a deterministic per-group
    token budget (operators/sampling.py) — surviving documents keep
    verdict ``kept``, the hash-ordered overflow becomes ``budget_out``.
    The cut happens in phase 1, so the verdict table stays the single
    source of truth and phase-2 resume semantics are unchanged.

    ``tokenizer`` selects the budget's token DEFINITION: ``whitespace``
    (portable count, matches the oracle-attested funnel) or ``exact``
    (true BPE counts via operators/tokenizers.exact_token_counts — what
    a training run actually consumes). ``exact`` FAILS LOUDLY when no
    real tokenizer is importable rather than silently substituting the
    approximation; the two definitions must never mix within one budget.
    ``encoder_factory`` is the tokenizer seam passthrough (tests).

    ``pack_seq_len`` additionally writes a GPT-style sequence-packing plan
    (operators/packing.pack_concat_split) over the curated output to
    ``<output>_packplan`` — each kept document's shard, token offset and
    sequence span for ``pack_seq_len``-token training sequences — and adds
    per-shard packing stats to the report. Runs after phase 2 from the
    committed output, so it is deterministic and safe to recompute on a
    resumed job; uses the same token definition selected by
    ``tokenizer``."""
    if tokenizer not in ("whitespace", "exact"):
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    verdicts_path = output.rstrip("/") + "_verdicts"
    lineage_path = lineage_path or output.rstrip("/") + "_lineage"
    docs = results.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    )

    def counted(df):
        """``df`` and its token-count column under ``tokenizer`` (None: the
        whitespace count the operators default to)."""
        if tokenizer == "whitespace":
            return df, None
        from llm_document_parser_spark.operators.tokenizers import (
            exact_token_counts,
        )

        # raises RuntimeError when tiktoken is absent and no
        # encoder_factory is injected — by design (see docstring)
        return exact_token_counts(
            df, text_col=text_col, out_col="bpe_tokens",
            encoder_factory=encoder_factory,
        ), F.col("bpe_tokens")

    # phase 1: the global dedup/gate computation, materialized ONCE as the
    # tiny (id, verdict) table. Deterministic (CC fixpoint is unique), so a
    # committed table from a killed prior attempt is safe to reuse.
    if not (job_id and lineage.success_marker_exists(spark, verdicts_path)):
        # the operators' checkpoints are freed once the verdicts are written
        with storage_scope():
            _, labeled = curate(
                results, id_col=id_col, text_col=text_col, **curate_kwargs
            )
            if budget_tokens:
                from llm_document_parser_spark.operators.sampling import (
                    sample_to_token_budget,
                )

                kept_docs, tokens_col = counted(
                    labeled.filter(F.col("verdict") == "kept")
                )
                in_budget = sample_to_token_budget(
                    kept_docs,
                    budget_tokens, group_col=budget_group,
                    id_col=id_col, text_col=text_col, tokens_col=tokens_col,
                ).select(id_col, F.lit(True).alias("in_budget"))
                labeled = labeled.join(in_budget, id_col, "left").withColumn(
                    "verdict",
                    F.when(
                        (F.col("verdict") == "kept") & F.col("in_budget").isNull(),
                        F.lit("budget_out"),
                    ).otherwise(F.col("verdict")),
                )
            labeled.select(id_col, "verdict").write.mode("overwrite").parquet(
                verdicts_path
            )
    verdicts = spark.read.parquet(verdicts_path)
    kept_ids = verdicts.filter(F.col("verdict") == "kept").select(id_col)

    # phase 2: the heavy kept-corpus write, bucket-committed. The per-group
    # transform is a semi-join of the group's docs against the verdict
    # table — a parquet scan + one shuffle per group, no recomputation of
    # the phase-1 cascade.
    job_id = lineage.run_with_lineage(
        spark,
        docs,
        lambda df: df.join(kept_ids, id_col, "left_semi"),
        results_path=output,
        lineage_path=lineage_path,
        job_id=job_id,
        num_buckets=num_buckets,
        buckets_per_commit=buckets_per_commit,
        key=id_col,
    )
    funnel = {
        r["verdict"]: r["n"]
        for r in verdicts.groupBy("verdict").agg(F.count("*").alias("n")).collect()
    }
    report = {
        "job_id": job_id,
        "n_input": int(sum(funnel.values())),
        "funnel": funnel,
        "kept_rows": lineage.committed_row_total(spark, lineage_path, job_id),
        "output": output,
    }

    if pack_seq_len:
        from llm_document_parser_spark.operators.packing import (
            pack_concat_split,
            packing_stats,
        )

        kept_corpus, tokens_col = counted(spark.read.parquet(output))
        plan = pack_concat_split(
            kept_corpus, seq_len=pack_seq_len, n_shards=pack_shards,
            id_col=id_col, text_col=text_col, tokens_col=tokens_col,
        )
        plan.write.mode("overwrite").parquet(output.rstrip("/") + "_packplan")
        stats = packing_stats(
            spark.read.parquet(output.rstrip("/") + "_packplan"), pack_seq_len
        ).agg(
            F.sum("n_docs").alias("docs"),
            F.sum("shard_tokens").alias("tokens"),
            F.sum("n_sequences").alias("sequences"),
            F.round(
                F.sum(F.col("boundary_cross_frac") * F.col("n_docs"))
                / F.sum("n_docs"), 6,
            ).alias("boundary_cross_frac"),
        ).first()
        report["packing"] = {
            "seq_len": pack_seq_len,
            "shards": pack_shards,
            "docs": int(stats["docs"] or 0),
            "tokens": int(stats["tokens"] or 0),
            "sequences": int(stats["sequences"] or 0),
            "boundary_cross_frac": float(stats["boundary_cross_frac"] or 0.0),
            "plan_path": output.rstrip("/") + "_packplan",
        }
    return report


def _has_uri_scheme(path: str) -> bool:
    return bool(re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="extraction results parquet")
    ap.add_argument("--output", required=True, help="curated corpus parquet")
    ap.add_argument("--lineage", default=None,
                    help="lineage table path (default: <output>_lineage)")
    ap.add_argument("--job-id", default=None, help="stable id for resume")
    ap.add_argument("--buckets", type=int, default=64,
                    help="url-hash commit buckets for the kept-corpus write")
    ap.add_argument("--buckets-per-commit", type=int, default=8)
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="extracted_text")
    ap.add_argument("--threshold", type=float, default=0.8,
                    help="verified near-dup Jaccard threshold")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-quality", type=float, default=0.8)
    ap.add_argument("--max-dup-frac", type=float, default=0.6)
    ap.add_argument("--benchmark", default=None,
                    help="optional eval-set parquet (bench_id, text) — adds "
                         "the decontamination gate")
    ap.add_argument("--decon-n", type=int, default=13,
                    help="decontamination n-gram width")
    ap.add_argument("--c4-min-sentences", type=int, default=None,
                    help="enable the C4 page-veto gate with this post-"
                         "line-filter sentence minimum (verdict 'c4')")
    ap.add_argument("--budget-tokens", type=int, default=None,
                    help="deterministic per-group token budget for the kept corpus")
    ap.add_argument("--budget-group", default=None,
                    help="grouping column for --budget-tokens (default: whole corpus)")
    ap.add_argument("--tokenizer", choices=["whitespace", "exact"],
                    default="whitespace",
                    help="token definition for --budget-tokens: 'whitespace' "
                         "(portable, oracle-attested) or 'exact' (true BPE "
                         "via tiktoken; fails loudly when not installed)")
    ap.add_argument("--pack-seq-len", type=int, default=None,
                    help="also write a GPT-style sequence-packing plan over "
                         "the curated output (<output>_packplan) for this "
                         "training sequence length")
    ap.add_argument("--pack-shards", type=int, default=64,
                    help="deterministic md5 shards for the packing plan")
    args = ap.parse_args(argv)

    # long batch job: a python worker killed under co-tenant pressure must
    # cost one task attempt, not the job (see tests/test_worker_resilience.py)
    spark = get_spark(app_name="ldp-curate-job", task_retries=2)
    results = spark.read.parquet(args.input)
    benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
    report = run_curation(
        spark, results, args.output,
        lineage_path=args.lineage, job_id=args.job_id,
        num_buckets=args.buckets, buckets_per_commit=args.buckets_per_commit,
        id_col=args.id_col, text_col=args.text_col,
        threshold=args.threshold, lang=args.lang,
        min_quality=args.min_quality, max_dup_frac=args.max_dup_frac,
        benchmark=benchmark, decon_n=args.decon_n,
        c4_min_sentences=args.c4_min_sentences,
        budget_tokens=args.budget_tokens, budget_group=args.budget_group,
        tokenizer=args.tokenizer,
        pack_seq_len=args.pack_seq_len, pack_shards=args.pack_shards,
    )
    print(json.dumps(report))
    # the report file is a local-filesystem convenience; for object-store
    # outputs (s3://…) a local open() of the dirname would throw AFTER the
    # corpus write succeeded, failing a completed run — stdout is the
    # contract there
    if not _has_uri_scheme(args.output):
        with open(os.path.join(os.path.dirname(args.output) or ".",
                               "curation_report.json"), "w") as f:
            json.dump(report, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
