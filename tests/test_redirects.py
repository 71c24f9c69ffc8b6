"""Redirect-chain resolution by pointer doubling (operators/links.py)."""

import pytest

from llm_document_parser_spark.materialize import fixpoint
from llm_document_parser_spark.operators import links
from llm_document_parser_spark.operators.links import resolve_redirects


def _resolve(spark, rows, max_hops=32):
    df = spark.createDataFrame(rows, "src string, dst string")
    return {
        r["src"]: (r["final_url"], r["hops"], r["resolved"])
        for r in resolve_redirects(df, max_hops=max_hops).collect()
    }


def test_linear_chain_hops(spark):
    out = _resolve(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert out["a"] == ("d", 3, 1)
    assert out["b"] == ("d", 2, 1)
    assert out["c"] == ("d", 1, 1)


def test_cycle_and_self_loop_unresolved(spark):
    out = _resolve(spark, [("p", "q"), ("q", "p"), ("s", "s"), ("t", "u")])
    assert out["p"] == (None, None, 0)
    assert out["q"] == (None, None, 0)
    assert out["s"] == (None, None, 0)
    assert out["t"] == ("u", 1, 1)


def test_max_hops_boundary(spark):
    # n0 -> n1 -> ... -> n40 (terminal). With max_hops=32, sources more
    # than 32 hops from the end stay unresolved; exactly 32 resolves.
    rows = [(f"n{i}", f"n{i+1}") for i in range(40)]
    out = _resolve(spark, rows, max_hops=32)
    assert out["n8"] == ("n40", 32, 1)
    assert out["n7"] == (None, None, 0)
    assert out["n39"] == ("n40", 1, 1)


def test_one_row_per_source(spark):
    rows = [("a", "b"), ("a", "b"), ("b", "c")]  # duplicate edge collapses
    df = spark.createDataFrame(rows, "src string, dst string")
    res = resolve_redirects(df)
    assert res.count() == 2


def _rounds(monkeypatch) -> list:
    """Record one entry per pointer-doubling round ``resolve_redirects``
    runs."""
    rounds = []

    def watched(state, step, **kw):
        def wrapped(m):
            rounds.append(1)
            return step(m)

        wrapped.__qualname__ = step.__qualname__
        return fixpoint(state, wrapped, **kw)

    monkeypatch.setattr(links, "fixpoint", watched)
    return rounds


def test_short_chains_stop_before_the_last_round(spark, monkeypatch):
    """Every 2-hop chain has ended after one round, so the loop stops
    there instead of running all ceil(log2(32)) = 5 rounds."""
    rounds = _rounds(monkeypatch)
    rows = [(f"a{i}", f"b{i}") for i in range(20)]
    rows += [(f"b{i}", f"c{i}") for i in range(20)]
    out = _resolve(spark, rows, max_hops=32)
    assert len(rounds) == 1
    for i in range(20):
        assert out[f"a{i}"] == (f"c{i}", 2, 1)
        assert out[f"b{i}"] == (f"c{i}", 1, 1)


def test_cycles_run_every_round_without_raising(spark, monkeypatch):
    rounds = _rounds(monkeypatch)
    out = _resolve(spark, [("p", "q"), ("q", "p")], max_hops=32)
    assert len(rounds) == 5
    assert out["p"] == (None, None, 0)
