"""PII redaction spec (operators/redact.py) — guarded production
patterns: placeholders, ordering (SSN before phone), guard behavior, and
hostile-payload linearity."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from llm_document_parser_spark.operators import redact


def _red(spark, text):
    return (
        spark.range(1)
        .select(redact.redact_pii(F.lit(text)).alias("r"))
        .collect()[0]["r"]
    )


def test_redaction_spec(spark):
    got = _red(
        spark,
        "Reach me at jane.doe+spam@mail.example.org or (555) 010-1234; "
        "SSN 123-45-6789 on file. Intl: +44-555-010-9999 too.",
    )
    assert got == (
        "Reach me at [EMAIL] or [PHONE]; "
        "SSN [SSN] on file. Intl: [PHONE] too."
    )


def test_ssn_redacted_before_phone_can_eat_it(spark):
    # ddd-dd-dddd must become [SSN], never a partial [PHONE] match
    assert _red(spark, "id 987-65-4321 ok") == "id [SSN] ok"


def test_guards_block_run_interior_matches(spark):
    # digit-adjacent SSN-shaped substrings are NOT standalone SSNs
    assert _red(spark, "serial 9123-45-67890 stays") == "serial 9123-45-67890 stays"
    # an email atom glued to a preceding atom-run is not a fresh email start
    assert "[EMAIL]" in _red(spark, "mail: a@b.example end")


def test_hostile_long_runs_stay_linear(spark):
    """The lookbehind guards exist exactly for this: a 200 KB same-class
    run must redact in well under a second, not minutes (unguarded
    leading-class patterns are O(n²) — measured 96 s/doc in round 2)."""
    hostile = "a" * 200_000 + " end 123-45-6789"
    t0 = time.perf_counter()
    out = _red(spark, hostile)
    took = time.perf_counter() - t0
    assert out.endswith("[SSN]")
    assert took < 10, f"redaction took {took:.1f}s on a 200KB run"


def test_cap_per_group(spark):
    from llm_document_parser_spark.operators.sampling import cap_per_group

    docs = spark.createDataFrame(
        [(i, f"h{i % 3}") for i in range(30)], "doc_id long, host string"
    )
    out = cap_per_group(docs, max_docs=4, group_col="host")
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["host"], set()).add(r["doc_id"])
    assert all(len(v) == 4 for v in per.values())
    assert set(per) == {"h0", "h1", "h2"}
    assert "_cap_rn" not in out.columns
    # deterministic + partitioning-invariant
    again = {
        (r["host"], r["doc_id"])
        for r in cap_per_group(
            docs.repartition(5), max_docs=4, group_col="host"
        ).collect()
    }
    assert {(r["host"], r["doc_id"]) for r in rows} == again


# ---------------------------------------------------------------------------
# key-skew diagnostics (lives with the other sampling/salting utility tests)
# ---------------------------------------------------------------------------


def test_key_skew_report_hand_values(spark):
    import pyspark.sql.functions as F

    from llm_document_parser_spark.operators.salting import key_skew_report

    # hot key: 90 rows; 10 ordinary keys with 1..10 rows (sum 55)
    rows = [("hot",)] * 90 + [
        (f"k{i}",) for i in range(1, 11) for _ in range(i)
    ]
    df = spark.createDataFrame(rows, "host string")
    r = key_skew_report(df, "host").first()
    assert (r["n_rows"], r["n_keys"]) == (145, 11)
    assert (r["max_key"], r["max_key_rows"]) == ("hot", 90)
    assert r["avg_rows_per_key"] == round(145 / 11, 4)
    assert r["top1_share"] == round(90 / 145, 6)
    assert r["skew_ratio"] == round(90 / (145 / 11), 4)
    # counts sorted: [1..10, 90]; p99 interpolates between 10 and 90
    p99 = 10 + (90 - 10) * (0.99 * 10 - 9)
    assert r["p99_key_rows"] == round(p99, 4)
    import math

    assert r["suggested_salt"] == max(1, math.ceil(90 / p99))


def test_key_skew_report_uniform_needs_no_salt(spark):
    from llm_document_parser_spark.operators.salting import key_skew_report

    rows = [(f"k{i}",) for i in range(20) for _ in range(5)]
    df = spark.createDataFrame(rows, "host string")
    r = key_skew_report(df, "host").first()
    assert r["skew_ratio"] == 1.0
    assert r["suggested_salt"] == 1
    assert r["max_key"] == "k0"  # lexicographic-min tie-break
