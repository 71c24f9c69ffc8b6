"""Leakage-safe corpus splits (sampling.leakage_safe_split): the
no-domain-straddles-splits invariant, fraction calibration over many
domains, and determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.operators.sampling import leakage_safe_split


def _hosts_df(spark, n_domains=400, pages_per_domain=3):
    rows = [
        (f"{sub}.site{d}.com",)
        for d in range(n_domains)
        for sub in ("www", "blog", "shop")[:pages_per_domain]
    ]
    return spark.createDataFrame(rows, ["host"])


def test_no_domain_straddles_splits(spark):
    out = leakage_safe_split(_hosts_df(spark))
    straddlers = (
        out.groupBy("registrable_domain")
        .agg(F.count_distinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert straddlers == 0
    # subdomains of one registrable domain always travel together
    assert (
        out.filter(F.col("registrable_domain") == "site0.com")
        .select("split")
        .distinct()
        .count()
        == 1
    )


def test_fractions_calibrated_over_domains(spark):
    out = leakage_safe_split(_hosts_df(spark, n_domains=2000, pages_per_domain=1))
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == 2000
    # hash buckets are uniform: 2000 domains puts train within a few
    # percentage points of 90% (binomial 3 sigma ~= 2%)
    assert 0.87 <= counts["train"] / 2000 <= 0.93
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0


def test_deterministic_assignment(spark):
    df = _hosts_df(spark, n_domains=200, pages_per_domain=1)
    a = {r["host"]: r["split"] for r in leakage_safe_split(df).collect()}
    b = {r["host"]: r["split"] for r in leakage_safe_split(df).collect()}
    assert a == b  # no RNG state anywhere


def test_null_domain_falls_back_to_host(spark):
    # 'localhost' and a bare public suffix resolve to NULL registrable
    # domain; they must still get a consistent split from the raw host
    df = spark.createDataFrame(
        [("localhost",), ("localhost",), ("github.io",)], ["host"]
    )
    out = leakage_safe_split(df).collect()
    by_host: dict[str, set] = {}
    for r in out:
        assert r["split"] in ("train", "val", "test")
        by_host.setdefault(r["host"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_host.values())
