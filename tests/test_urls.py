"""URL canonicalization spec (operators/urls.py) — edge cases beyond the
oracle-checked catalog query."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_document_parser_spark.operators import urls as U
from plan_nodes import node_classes


def _canon(spark, url):
    return (
        spark.range(1)
        .select(
            U.canonical_url(F.lit(url)).alias("c"),
            U.host_of(F.lit(url)).alias("h"),
            U.url_depth(F.lit(url)).alias("d"),
        )
        .collect()[0]
    )


def test_canonical_url_spec(spark):
    r = _canon(
        spark,
        "HTTP://WWW.News.Example.COM:80/a//b/Story/?utm_source=x&id=7&utm_campaign=y#frag",
    )
    assert r["c"] == "http://www.news.example.com/a/b/Story?id=7"
    assert r["h"] == "www.news.example.com"
    assert r["d"] == 3

    # path case preserved, 443 stripped on https, all-tracking query dropped
    r = _canon(spark, "https://Host.example:443/Mixed/Case/?fbclid=abc")
    assert r["c"] == "https://host.example/Mixed/Case"

    # bare root path stays '/', empty path becomes '/'
    assert _canon(spark, "https://h.example/")["c"] == "https://h.example/"
    assert _canon(spark, "https://h.example")["c"] == "https://h.example/"
    assert _canon(spark, "https://h.example")["d"] == 0

    # non-default port kept; non-tracking query preserved verbatim
    r = _canon(spark, "http://h.example:8080/p?b=2&a=1")
    assert r["c"] == "http://h.example:8080/p?b=2&a=1"
    assert r["h"] == "h.example:8080"

    # :443 is only default for https — http keeps it (and vice versa)
    assert _canon(spark, "http://h.example:443/p")["h"] == "h.example:443"
    assert _canon(spark, "https://h.example:80/p")["h"] == "h.example:80"

    # userinfo is dropped from the authority, NOT case-folded into the
    # host (RFC 3986: userinfo is case-sensitive; credentials must not
    # leak into host-keyed bucketing)
    r = _canon(spark, "http://Alice:Pw@H.example:80/p")
    assert r["h"] == "h.example"
    assert r["c"] == "http://h.example/p"


def test_canonical_url_invalid(spark):
    assert _canon(spark, "not a url")["c"] is None
    assert _canon(spark, "/relative/path")["c"] is None
    assert _canon(spark, "not a url")["h"] == ""


def test_same_page_same_bucket(spark):
    """The property the pass exists for: tracking-param and case variants
    of one page canonicalize identically (same url-hash bucket)."""
    variants = [
        "https://shop.example.com/item/42?utm_source=mail",
        "HTTPS://SHOP.example.com:443/item/42/",
        "https://shop.example.com//item//42/#reviews",
    ]
    out = {
        _canon(spark, v)["c"] for v in variants
    }
    assert out == {"https://shop.example.com/item/42"}


# ---------------------------------------------------------------------------
# host blocklist
# ---------------------------------------------------------------------------

from llm_document_parser_spark.operators.urls import (  # noqa: E402
    host_suffixes,
    mark_blocked_hosts,
)


def _bl(spark, domains):
    return spark.createDataFrame([(d,) for d in domains], "domain string")


def test_host_suffixes(spark):
    df = spark.createDataFrame([("a.b.example.com",)], "h string")
    (row,) = df.select(host_suffixes(F.col("h")).alias("s")).collect()
    assert row["s"] == ["a.b.example.com", "b.example.com", "example.com", "com"]
    df1 = spark.createDataFrame([("localhost",)], "h string")
    (row1,) = df1.select(host_suffixes(F.col("h")).alias("s")).collect()
    assert row1["s"] == ["localhost"]


def test_mark_blocked_subdomain_semantics(spark):
    pages = spark.createDataFrame(
        [
            ("https://cdn.eu.tracker.example/x", 1),
            ("https://tracker.example/y", 2),
            ("https://nottracker.example/z", 3),  # no dot boundary → clean
            ("https://clean.site/w", 4),
            ("no-scheme-at-all", 5),  # host '' → clean
        ],
        "url string, k long",
    )
    got = {
        r["k"]: r["blocked"]
        for r in mark_blocked_hosts(pages, _bl(spark, ["tracker.example"])).collect()
    }
    assert got == {1: True, 2: True, 3: False, 4: False, 5: False}


def test_blocklist_join_is_broadcast(spark):
    pages = spark.createDataFrame([("https://a.com/x",)], "url string")
    nodes = node_classes(mark_blocked_hosts(pages, _bl(spark, ["a.com"])))
    assert "BroadcastHashJoinExec" in nodes
    assert "SortMergeJoinExec" not in nodes


# ---------------------------------------------------------------------------
# registrable domain (PSL longest-match)
# ---------------------------------------------------------------------------

from llm_document_parser_spark.operators.urls import (  # noqa: E402
    with_registrable_domain,
)


def test_registrable_domain_cases(spark):
    cases = [
        ("www.site.example.com", "example.com"),      # 1-label suffix
        ("site.co.uk", "site.co.uk"),                 # 2-label suffix exact+1
        ("blog.site.co.uk", "site.co.uk"),            # subdomain collapses
        ("user.github.io", "user.github.io"),         # private suffix wins over 'io'
        ("a.b.user.github.io", "user.github.io"),     # deep subdomain
        ("github.io", None),                          # host IS a public suffix
        ("svc.cluster.internal", "cluster.internal"), # unknown TLD: '*' rule
        ("localhost", None),                          # single unknown label
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = {
        r["host"]: r["registrable_domain"]
        for r in with_registrable_domain(df).collect()
    }
    for host, want in cases:
        assert got[host] == want, (host, got[host], want)


def test_registrable_domain_preserves_rows_and_columns(spark):
    df = spark.createDataFrame(
        [(1, "x.example.com"), (2, "x.example.com"), (3, "nowhere")],
        "id long, host string",
    )
    out = with_registrable_domain(df)
    assert out.count() == 3  # distinct-host join back never drops/dups rows
    assert set(out.columns) == {"id", "host", "registrable_domain"}


# --- URL template mining ---

from llm_document_parser_spark.operators.urls import path_template, url_template_stats


def test_path_template_generalization(spark):
    cases = [
        ("https://h.x/product/8812/view", "/product/{n}/view"),
        ("https://h.x/u/deadbeef0123/profile", "/u/{hex}/profile"),
        ("https://h.x/u/12345678/p", "/u/{hex}/p"),      # 8 digits = hex run
        ("https://h.x/y/1234567/p", "/y/{n}/p"),          # 7 digits = {n}
        ("https://h.x/About/V2", "/about/v{n}"),          # lowercased
        ("https://h.x/", "/"),
        ("not a url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["t"] for r in df.select(path_template(F.col("url")).alias("t")).collect()]
    assert got == [t for _, t in cases]


def test_url_template_stats_groups_and_example(spark):
    df = spark.createDataFrame(
        [("https://h.x/p/2/v",), ("https://h.x/p/11/v",), ("https://h.x/a",)],
        "url string",
    )
    got = {
        (r["host"], r["template"]): (r["n_urls"], r["example_url"])
        for r in url_template_stats(df).collect()
    }
    assert got == {
        ("h.x", "/p/{n}/v"): (2, "https://h.x/p/11/v"),
        ("h.x", "/a"): (1, "https://h.x/a"),
    }


# --- bitext url pairing -----------------------------------------------------


def test_bitext_pairs_basic_and_ordering(spark):
    from llm_document_parser_spark.operators.urls import bitext_url_pairs

    urls = [
        "https://site.example/en/pricing",
        "https://site.example/fr/pricing",
        "https://site.example/de/pricing",
        "https://site.example/en/about",      # no partner -> no pair
        "https://other.example/fr/pricing",   # different host -> no pair
        "https://site.example/pricing",       # no lang segment
        "https://site.example/xx/pricing",    # not a configured lang
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        (r["lang_a"], r["lang_b"]): (r["url_a"], r["url_b"])
        for r in bitext_url_pairs(df).collect()
    }
    assert set(got) == {("de", "en"), ("de", "fr"), ("en", "fr")}
    assert got[("en", "fr")] == (
        "https://site.example/en/pricing",
        "https://site.example/fr/pricing",
    )
    skels = {
        r["skeleton"] for r in bitext_url_pairs(df).collect()
    }
    assert skels == {"https://site.example/{lang}/pricing"}
