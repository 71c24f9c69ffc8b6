"""Outlink extraction / host graph / PageRank tests (operators/links.py).

PageRank parity is checked against an independent dense NumPy power
iteration implementing the documented semantics (weighted edges, dangling
mass redistributed uniformly, synchronous damped updates) — not against the
Spark code's own algebra.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from llm_document_parser_spark.operators.links import (
    extract_outlinks,
    host_link_graph,
    outlink_targets,
    pagerank,
)


def test_outlink_resolution(spark):
    base = "https://www.example.com/a/b/page.html?q=1"
    cases = [
        ("https://other.org/x", "https://other.org/x"),
        ("HTTP://UP.example.net/Y", "HTTP://UP.example.net/Y"),  # kept as-is
        ("//cdn.example.com/lib.js", "https://cdn.example.com/lib.js"),
        ("/root/path", "https://www.example.com/root/path"),
        ("sub/page2.html", "https://www.example.com/a/b/sub/page2.html"),
        ("mailto:a@b.c", None),
        ("javascript:void(0)", None),
        ("../up.html", None),  # dot-segments: dropped, not mis-resolved
        ("", None),
    ]
    html = "".join(f'<a href="{t}">link</a>' for t, _ in cases)
    # relative link on an unparseable base -> no outlink
    pages = spark.createDataFrame(
        [(base, html), ("not a url", '<a href="x.html">x</a>')],
        "url string, html_text string",
    )
    got = [(r["url"], r["outlink"]) for r in extract_outlinks(pages).collect()]
    assert got == [(base, want) for _, want in cases if want is not None]


def test_outlink_targets_and_extract(spark):
    html = (
        '<html><body><a href="/one">1</a>'
        "<A CLASS='x' HREF='https://b.org/two#frag'>2</A>"
        '<a data-x="y" href="three.html">3</a>'
        '<a href="">empty</a><p>no link</p></body></html>'
    )
    df = spark.createDataFrame(
        [("https://a.com/dir/page.html", html)], "url string, html_text string"
    )
    targets = df.select(outlink_targets(F.col("html_text")).alias("t")).collect()[0][
        "t"
    ]
    assert targets == ["/one", "https://b.org/two", "three.html"]
    links = sorted(
        r["outlink"] for r in extract_outlinks(df).collect()
    )
    assert links == [
        "https://a.com/dir/three.html",
        "https://a.com/one",
        "https://b.org/two",
    ]


def test_host_link_graph_drops_self_loops(spark):
    rows = [
        ("https://a.com/p1", "https://b.com/x"),
        ("https://a.com/p2", "https://b.com/y"),
        ("https://a.com/p3", "https://a.com/nav"),  # self-loop
        ("https://b.com/p", "https://a.com/z"),
    ]
    df = spark.createDataFrame(rows, "url string, outlink string")
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_link_graph(df).collect()
    }
    assert got == {("a.com", "b.com"): 2, ("b.com", "a.com"): 1}


def _numpy_pagerank(edges, iterations, damping):
    """Independent dense reference: weighted, dangling-uniform, synchronous."""
    hosts = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    w = np.zeros((n, n))
    for s, d, k in edges:
        w[idx[s], idx[d]] += k
    out_w = w.sum(axis=1)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dangling = rank[out_w == 0].sum()
        contrib = np.zeros(n)
        for i in range(n):
            if out_w[i] > 0:
                contrib += rank[i] * w[i] / out_w[i]
        rank = (1 - damping) / n + damping * (contrib + dangling / n)
    return dict(zip(hosts, rank))


@pytest.mark.parametrize("iterations", [0, 1, 5])
def test_pagerank_matches_numpy(spark, iterations):
    edges = [
        ("a.com", "b.com", 3),
        ("a.com", "c.com", 1),
        ("b.com", "c.com", 2),
        ("c.com", "a.com", 1),
        ("d.com", "a.com", 5),  # d.com has no in-links
        ("e.com", "a.com", 1),
        ("b.com", "sink.com", 1),  # sink.com is dangling
    ]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, n_links int")
    got = {
        r["host"]: r["pagerank"]
        for r in pagerank(df, iterations=iterations, damping=0.85).collect()
    }
    want = _numpy_pagerank(edges, iterations, 0.85)
    assert set(got) == set(want)
    for h in want:
        assert got[h] == pytest.approx(want[h], rel=1e-12), h
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_checkpoint_path(spark):
    """Six iterations, each one a fixpoint checkpoint that frees the one
    before it, keep NumPy parity."""
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "a", 2), ("c", "b", 1)]
    df = spark.createDataFrame(edges, "src_host string, dst_host string, n_links int")
    got = {
        r["host"]: r["pagerank"]
        for r in pagerank(df, iterations=6).collect()
    }
    want = _numpy_pagerank(edges, 6, 0.85)
    for h in want:
        assert got[h] == pytest.approx(want[h], rel=1e-12), h


def test_pagerank_empty_graph(spark):
    df = spark.createDataFrame([], "src_host string, dst_host string, n_links int")
    assert pagerank(df, iterations=3).count() == 0


# ------------------------------------------------------- anchor text


def test_anchor_text_extraction(spark):
    from llm_document_parser_spark.operators.links import extract_anchor_texts

    html = (
        '<a href="https://x.example/a">Read  More</a>'
        '<a href="/local">  Spaced   Out  </a>'
        '<a href="page#frag">With Fragment</a>'
        '<a href="https://skip.me/z"><b>Nested</b></a>'
        '<a href="https://y.example/b"></a>'  # empty anchor -> dropped
    )
    pages = spark.createDataFrame(
        [("https://host.site/dir/page", html)], "url string, html string"
    )
    out = {(r["target_url"], r["anchor"]) for r in extract_anchor_texts(pages).collect()}
    assert out == {
        ("https://x.example/a", "read more"),
        ("https://host.site/local", "spaced out"),
        ("https://host.site/dir/page", "with fragment"),
    }


def test_anchor_text_legacy_encoding_via_decode_payload(spark):
    # the documented binary route: charset.decode_payload -> anchor extract.
    # A windows-1252 page with a non-ASCII anchor must come out clean, not
    # as a mojibake byte reinterpretation (round-4 ADVICE).
    from llm_document_parser_spark.operators.extract_udfs import decode_page_udf
    from llm_document_parser_spark.operators.links import extract_anchor_texts

    html_1252 = '<a href="/café">Café Menu</a>'.encode("windows-1252")
    pages = spark.createDataFrame(
        [("https://host.site/", html_1252)], "url string, html binary"
    )
    decoded = pages.select(
        "url", decode_page_udf(F.col("html")).getField("text").alias("html")
    )
    (row,) = extract_anchor_texts(decoded).collect()
    assert row["anchor"] == "café menu"


# ---------------------------------------------------------------------------
# link-spam signals
# ---------------------------------------------------------------------------


def test_link_spam_signals_hand_graph(spark):
    from llm_document_parser_spark.operators.links import link_spam_signals

    # farm: a<->b, a<->c (fully reciprocal); honest: d->a, d->e one-way;
    # e is a pure sink
    edges = spark.createDataFrame(
        [
            ("a", "b", 3), ("b", "a", 1),
            ("a", "c", 2), ("c", "a", 5),
            ("d", "a", 1), ("d", "e", 1),
        ],
        "src_host string, dst_host string, n_links long",
    )
    got = {r["host"]: r for r in link_spam_signals(edges).collect()}
    assert set(got) == {"a", "b", "c", "d", "e"}
    a = got["a"]
    assert (a["out_deg"], a["in_deg"], a["recip_out"]) == (2, 3, 2)
    assert a["recip_frac"] == 1.0 and a["spam_flag"] == 1
    # b and c reciprocate but have out_deg 1 → below the ≥2 floor
    assert got["b"]["spam_flag"] == 0 and got["b"]["recip_frac"] == 1.0
    d = got["d"]
    assert (d["out_deg"], d["recip_out"], d["spam_flag"]) == (2, 0, 0)
    e = got["e"]  # sink: never a src
    assert (e["out_deg"], e["in_deg"], e["recip_frac"]) == (0, 1, 0.0)
    assert e["spam_flag"] == 0  # out_deg floor holds even at recip 0/0
