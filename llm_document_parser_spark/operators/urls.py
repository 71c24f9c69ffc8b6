"""URL canonicalization operators — the web-pipeline normalization pass
that precedes url-keyed dedup/bucketing (two crawls of the same page with
different tracking params must land in the same url-hash bucket, or the
lineage layout and exact-dup pass silently treat them as distinct pages).

Canonical form (documented spec, applied in order):

1. scheme and host lowercased (path/query case preserved — paths are
   case-sensitive); userinfo (``user:pw@``) dropped from the authority
   (case-sensitive per RFC 3986 — folding it conflates distinct URLs —
   and credentials don't belong in bucketing keys);
2. default ports ``:80``/``:443`` stripped from the authority;
3. fragment stripped;
4. tracking params removed: ``utm_*`` and ``fbclid``;
5. duplicate slashes in the path collapsed; trailing slash stripped
   (except the bare root path ``/``); empty path → ``/``;
6. empty query (after tracking removal) drops its ``?``.

Everything is ``regexp_extract`` + empty-replacement ``regexp_replace``
— no backreference replacements, so the identical patterns run under
Java regex (Spark) and RE2 (DuckDB oracle) with the same results.
Non-absolute/unparseable URLs yield NULL (callers quarantine them).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_REST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$"
_TRACKING_RE = r"&(?:utm_[A-Za-z_]*|fbclid)=[^&]*"


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def host_of(url: Column) -> Column:
    """Lowercased host with the scheme's OWN default port stripped
    (``:80`` for http, ``:443`` for https — ``http://h:443`` keeps its
    non-default port); '' when the URL has no ``scheme://authority``
    prefix. Userinfo (``user:pw@``) is DROPPED before lowercasing: it is
    case-sensitive per RFC 3986, so folding it would conflate distinct
    URLs, and keeping credentials in a host-bucketing key leaks them into
    every downstream table — crawl pipelines quarantine such URLs anyway."""
    hp = F.lower(
        F.regexp_replace(F.regexp_extract(url, _HOSTPORT_RE, 1), r"^[^@]*@", "")
    )
    scheme = _scheme(url)
    return (
        F.when(scheme == "http", F.regexp_replace(hp, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hp, r":443$", ""))
        .otherwise(hp)
    )


def _path_and_query(url: Column) -> tuple[Column, Column]:
    rest = F.regexp_replace(F.regexp_extract(url, _REST_RE, 1), r"#.*$", "")
    raw_path = F.regexp_extract(rest, r"^([^?]*)", 1)
    # normalize: collapse //, strip trailing / (keep bare root), empty → /
    collapsed = F.regexp_replace(raw_path, r"/{2,}", "/")
    path = F.when(collapsed == "", F.lit("/")).otherwise(
        F.when(collapsed == "/", collapsed).otherwise(
            F.regexp_replace(collapsed, r"/$", "")
        )
    )
    # query with tracking params removed: prefix '&' so every param matches
    # the same '&'-anchored pattern, strip the artificial prefix after
    query = F.regexp_replace(
        F.regexp_replace(
            F.concat(F.lit("&"), F.regexp_extract(rest, r"\?(.*)$", 1)),
            _TRACKING_RE,
            "",
        ),
        r"^&",
        "",
    )
    return path, query


def canonical_url(url: Column) -> Column:
    """Canonical form per the module spec; NULL for non-absolute URLs."""
    scheme, host = _scheme(url), host_of(url)
    path, query = _path_and_query(url)
    assembled = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return F.when((scheme != "") & (host != ""), assembled)


def url_depth(url: Column) -> Column:
    """Number of non-empty path segments of the canonical path."""
    path, _ = _path_and_query(url)
    return F.size(F.filter(F.split(path, "/"), lambda x: x != "")).cast("long")


# ---------------------------------------------------------------------------
# host blocklist (UT1/adult-list-style URL filtering tier)
# ---------------------------------------------------------------------------
# Blocklists are registrable-domain entries with subdomain semantics:
# blocking "tracker.example" must also drop "cdn.eu.tracker.example".
# Suffix match is not an equi-join, so the scale-correct shape is:
# explode each host into its dot-suffixes (≤ label-count rows, ~4-6 for
# real hosts) and equi-join that against the blocklist — broadcastable
# at real blocklist sizes (UT1 adult ≈ 4M rows ≈ 100 MB) and a plain
# shuffle join beyond. No regex, no cross product, no driver collect.


def host_suffixes(host: Column) -> Column:
    """['a.b.c', 'b.c', 'c'] for host 'a.b.c' — every dot-suffix."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(".", F.slice(parts, i, n - i + 1)),
    )


def mark_blocked_hosts(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Append ``host`` and boolean ``blocked``: true iff any dot-suffix of
    the url's host appears in ``blocklist[domain_col]``.

    Shape: the suffix explode and blocklist join run over DISTINCT hosts
    only (10^8 hosts, not 10^12 rows), and the verdict joins back to the
    data on the host key — the wide document text is never shuffled or
    compared. The blocked-host table is bounded by the blocklist's match
    count, so it broadcasts with the blocklist itself."""
    bl = F.broadcast(blocklist.select(F.col(domain_col).alias("_bl_domain")).distinct())
    with_host = df.withColumn("host", host_of(F.col(url_col)))
    blocked_hosts = F.broadcast(
        with_host.select("host")
        .distinct()
        .withColumn("_sfx", F.explode(host_suffixes(F.col("host"))))
        .join(bl, F.col("_sfx") == F.col("_bl_domain"))
        .select("host")
        .distinct()
        .withColumn("_blocked", F.lit(True))
    )
    return (
        with_host.join(blocked_hosts, "host", "left")
        .withColumn("blocked", F.coalesce(F.col("_blocked"), F.lit(False)))
        .drop("_blocked")
    )


# ---------------------------------------------------------------------------
# registrable domain (public-suffix-list longest-match)
# ---------------------------------------------------------------------------
# Host-level corpus accounting ("how much of the corpus is one site?",
# per-site caps, site-level dedup keys) must group by the REGISTRABLE
# domain, not the raw host: a.blogspot-like host space makes every
# subdomain look like a distinct site, and grouping by bare TLD merges
# the whole web. The registrable domain is the public suffix plus one
# label (PSL algorithm, longest-matching-rule wins). The embedded
# suffix set below is a deterministic testing subset; production runs
# pass the full publicsuffix.org list (~9k rules ≈ 200 KB — trivially
# broadcastable) via ``suffixes``. Wildcard (*.ck) and exception (!)
# rules are NOT implemented — the full-PSL caller must pre-expand them
# (the standard flattening), which keeps the engine side a pure
# longest-suffix equi-join.
#
# Scale shape: suffix-explode + broadcast equi-join + one max_by agg,
# all over DISTINCT hosts (10^8, not 10^12 rows), joined back on the
# host key — same geometry as mark_blocked_hosts above.

PUBLIC_SUFFIXES_MIN: tuple[str, ...] = (
    "com", "org", "net", "edu", "gov", "io", "info",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "org.au", "co.jp", "com.br", "co.in",
    "github.io", "blogspot.com",
)


def with_registrable_domain(
    df: DataFrame,
    host_col: str = "host",
    suffixes: tuple[str, ...] = PUBLIC_SUFFIXES_MIN,
    out_col: str = "registrable_domain",
) -> DataFrame:
    """Append ``out_col``: the PSL registrable domain of ``host_col``.

    Longest matching suffix wins ('a.github.io' → 'a.github.io' via the
    'github.io' rule, not 'github.io' via 'com'-style single-label).
    Unknown TLDs use the PSL default '*' rule (last label is the public
    suffix → registrable = last two labels). A host that IS exactly a
    public suffix, or a single unknown label, yields NULL.
    """
    spark = df.sparkSession
    sfx = F.broadcast(
        spark.createDataFrame(
            [(s, len(s.split("."))) for s in suffixes], "_sfx string, _sfx_n int"
        )
    )
    host = F.col(host_col)
    hosts = df.select(host.alias(host_col)).distinct()
    # longest matching rule per host; unmatched hosts keep _sfx_n = 1
    # (the PSL default '*' rule) via the left join + coalesce
    matched = (
        hosts.withColumn("_cand", F.explode(host_suffixes(host)))
        .join(sfx, F.col("_cand") == F.col("_sfx"), "left")
        .groupBy(host_col)
        .agg(F.coalesce(F.max("_sfx_n"), F.lit(1)).alias("_n"))
    )
    parts = F.split(host, r"\.")
    n = F.size(parts)
    reg = F.when(
        n > F.col("_n"),
        F.concat_ws(".", F.slice(parts, n - F.col("_n"), F.col("_n") + 1)),
    )
    # join-back is a plain equi-join on host: `resolved` holds EVERY
    # distinct host (unlike mark_blocked_hosts' bounded match set), so
    # it must not be forced broadcast — AQE picks broadcast when the
    # host count is actually small.
    resolved = matched.select(host_col, reg.alias(out_col))
    return df.join(resolved, host_col, "left")


# --- URL template mining (crawl-structure discovery) --------------------

#: 8+ hex chars = an id-ish run (hashes, uuids-sans-dashes); applied
#: BEFORE the digit rule so pure-digit runs of 8+ read as {hex} — one
#: deterministic order, stated here, identical in the oracle.
_HEX_RUN_RE = r"[0-9a-f]{8,}"


def path_template(url: Column) -> Column:
    """Generalize a URL's normalized path into its template: lowercase,
    8+-char hex runs → ``{hex}``, remaining digit runs → ``{n}``.
    Two crawls of ``/product/8812/view`` and ``/product/9177/view`` land
    on the same ``/product/{n}/view`` key — the unit crawl engineers use
    to spot infinite calendars, session-id traps, and which site sections
    dominate a frontier. NULL for unparseable URLs (as canonical_url)."""
    path, _ = _path_and_query(url)
    t = F.regexp_replace(F.lower(path), _HEX_RUN_RE, "{hex}")
    t = F.regexp_replace(t, r"\d+", "{n}")
    return F.when(host_of(url) == "", F.lit(None).cast("string")).otherwise(t)


def url_template_stats(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(host, template, n_urls, example_url) — one groupBy; example is
    the lexicographic min url (deterministic, oracle-matchable)."""
    u = F.col(url_col)
    return (
        df.select(
            host_of(u).alias("host"),
            path_template(u).alias("template"),
            u.alias("_u"),
        )
        .filter(F.col("template").isNotNull())
        .groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("_u").alias("example_url"),
        )
    )


# ---------------------------------------------------------------------------
# bitext url pairing — parallel-corpus mining prelude
# ---------------------------------------------------------------------------

# first path segment is a 2-letter language code: anchored, no lookahead —
# identical semantics under Java regex (Spark) and RE2 (DuckDB oracle)
_LANG_SEG_RE = r"^(https?://[^/]+)/([a-z]{2})/(.*)$"

BITEXT_LANGS = ("en", "fr", "de", "es", "it", "pt", "nl", "pl", "ru", "tr")


def bitext_url_pairs(
    df: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Candidate translation pairs from URL structure: sites publish
    parallel pages under language path prefixes (``/en/pricing`` ↔
    ``/fr/pricing``), so urls that differ ONLY in a leading 2-letter
    language segment are bitext candidates — the ParaCrawl/CCMatrix
    mining prelude (alignment scoring happens downstream on content).

    Returns ``(skeleton, lang_a, lang_b, url_a, url_b)`` with
    ``lang_a < lang_b``, both in ``BITEXT_LANGS``; ``skeleton`` is the url with the language
    segment replaced by ``{lang}``.

    Scale shape: one anchored regexp per url, then a self equi-join on
    the skeleton key — fan-out per skeleton is bounded by |BITEXT_LANGS| (a
    page has at most one url per language), so the join cannot blow up
    on popular pages the way content-keyed self-joins can.
    """
    u = F.col(url_col)
    s = (
        df.select(
            u.alias("url"),
            F.regexp_extract(u, _LANG_SEG_RE, 2).alias("lang"),
            F.concat(
                F.regexp_extract(u, _LANG_SEG_RE, 1),
                F.lit("/{lang}/"),
                F.regexp_extract(u, _LANG_SEG_RE, 3),
            ).alias("skeleton"),
        )
        .filter(F.col("lang").isin(*BITEXT_LANGS))
    )
    a = s.select(
        "skeleton", F.col("lang").alias("lang_a"), F.col("url").alias("url_a")
    )
    b = s.select(
        F.col("skeleton").alias("_sk"),
        F.col("lang").alias("lang_b"),
        F.col("url").alias("url_b"),
    )
    return a.join(
        b, (a["skeleton"] == b["_sk"]) & (a["lang_a"] < b["lang_b"])
    ).select("skeleton", "lang_a", "lang_b", "url_a", "url_b")
