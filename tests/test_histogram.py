"""Mergeable quantile-histogram tests (operators/stats.py).

Core claims: (1) quantile estimates are within one bin's span of NumPy's
exact percentiles and are EXACT when a bin holds a single distinct value;
(2) bin indices come from integer comparisons (boundary values 2^k - 1
land in bin k-1, 2^k lands in bin k, negatives clamp to 0).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from llm_document_parser_spark.operators.stats import (
    histogram_quantiles,
    logbin_of,
    value_histogram,
)


def _df(spark, values, group="g"):
    return spark.createDataFrame(
        [(group, int(v)) for v in values], "src string, v long"
    )


def test_bin_boundaries_exact(spark):
    cases = [(-5, 0), (0, 0), (1, 1), (2, 1), (3, 2), (7, 3), (8, 3),
             (15, 4), (2**20 - 1, 20), (2**20, 20), (2**21 - 1, 21)]
    # bin(v) = floor(log2(v+1)) for v >= 0: v+1 in [2^k, 2^(k+1)) -> k
    df = spark.createDataFrame([(v,) for v, _ in cases], "v long")
    got = [
        r["b"] for r in df.select(logbin_of(F.col("v")).alias("b")).collect()
    ]
    assert got == [b for _, b in cases]


def test_quantile_estimates_within_one_bin(spark):
    rng = np.random.RandomState(13)
    values = np.concatenate(
        [rng.randint(1, 50, 400), rng.randint(1000, 50000, 100)]
    )
    full = value_histogram(_df(spark, values), "src", "v")
    q = histogram_quantiles(full, ps=(0.5, 0.95, 0.99)).collect()[0]
    assert q["n_values"] == len(values)
    assert q["max_value"] == int(values.max())
    for p, col in ((50, "q50"), (95, "q95"), (99, "q99")):
        exact = np.percentile(values, p)
        est = q[col]
        # within the span of the bin holding the exact percentile
        b = int(np.floor(np.log2(exact + 1)))
        span = 2 ** (b + 1) - 2 ** b
        assert abs(est - exact) <= span, (p, est, exact)


def test_single_value_bins_estimate_exactly(spark):
    # every value distinct per bin -> mn == mx -> interpolation collapses
    # to the exact value; with values 1,3,7,15,... every quantile target
    # falls in a single-value bin and must come back exact
    values = [2**k - 1 for k in range(1, 11)]  # one value per bin
    hist = value_histogram(_df(spark, values), "src", "v")
    q = histogram_quantiles(hist, ps=(0.5, 0.99)).collect()[0]
    # rank 0.5*10 = 5 -> 5th value in bin order = 31; 0.99*10 -> 10th = 1023
    assert q["q50"] == 31.0
    assert q["q99"] == 1023.0


def test_multiple_groups_independent(spark):
    a = _df(spark, [10] * 100, group="a")
    b = _df(spark, [100000] * 50, group="b")
    hist = value_histogram(a.unionByName(b), "src", "v")
    got = {r["group"]: r for r in histogram_quantiles(hist).collect()}
    assert got["a"]["q99"] == 10.0 and got["a"]["n_values"] == 100
    assert got["b"]["q50"] == 100000.0 and got["b"]["max_value"] == 100000
