"""robots.txt parsing and URL admission — the crawl-politeness tier.

A crawl-derived corpus must honor robots exclusions; retroactive
compliance passes over 10^12 fetched pages are a standard curation job
(drop documents whose url was disallowed for the crawler's agent).
Nothing here is the reference's concern (it parses uploaded files), but
it is a required stage for the north_star's Common-Crawl-style input.

robots.txt is a line-oriented state machine (directives bind to the most
recent contiguous run of ``User-agent`` lines). State machines are the
classic excuse for per-row Python; this module restates it relationally
so the whole parse stays in codegen:

  * explode lines with their ordinal (posexplode),
  * a line STARTS a group iff it is a user-agent line whose predecessor
    is not (one ``lag`` window per robots file),
  * the running count of group-starts (one ``sum`` window) labels every
    line with its group id,
  * agents × directives of the same (host, group) equi-join into rules.

Verdict semantics follow Google's documented rules: longest-prefix match
wins; a tie between Allow and Disallow goes to Allow; no matching rule →
allowed. Implemented as two max-lengths per url (allow_len >= dis_len) —
no struct-ordering tricks, so the ANSI-SQL oracle states the identical
formula. Empty-value directives ("Disallow:") restrict nothing and are
dropped at parse time, per spec.

Scale shape: the parse windows partition by robots host (files are KBs —
a per-host window is trivially safe); the admission join is host-equi
(rules tables are ~10 rules × hosts, broadcastable at any realistic host
count).

Wildcards: plain-prefix matching (the original 1994 REP) is the default;
``robots_allowed(..., wildcards=True)`` upgrades to RFC 9309 / Google
semantics — ``*`` matches any char run, a trailing ``$`` anchors the
rule to the path end, and specificity is the RAW pattern length
(``*``/``$`` counted, per Google's implementation). Each rule compiles
ONCE (in the broadcast rules table) to an anchored regex via
:func:`wildcard_regex`; urls never pay per-row pattern building.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .urls import _REST_RE, host_of

_UA_RE = r"(?i)^user-agent:\s*(\S+)\s*$"
_DIR_RE = r"(?i)^(allow|disallow):\s*(\S*)\s*$"


def parse_robots(df: DataFrame, host_col: str = "host", body_col: str = "body") -> DataFrame:
    """(host, agent, rule, prefix) rules from robots.txt bodies.
    ``agent`` is lowercased; ``rule`` in ('allow','disallow'); empty-value
    directives and directives before any User-agent line are dropped."""
    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), r"\r?\n")).alias("i", "raw"),
    ).select(
        "host", "i",
        F.trim(F.regexp_replace("raw", r"#.*$", "")).alias("line"),
    )
    w = Window.partitionBy("host").orderBy("i")
    tagged = lines.select(
        "host", "i", "line",
        (F.regexp_extract("line", _UA_RE, 1) != "").alias("is_ua"),
    ).withColumn(
        "starts_group",
        F.col("is_ua") & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False)),
    ).withColumn(
        "group_id",
        F.sum(F.col("starts_group").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    agents = tagged.filter("is_ua").select(
        "host", "group_id",
        F.lower(F.regexp_extract("line", _UA_RE, 1)).alias("agent"),
    )
    directives = tagged.filter(
        ~F.col("is_ua") & (F.regexp_extract("line", _DIR_RE, 2) != "")
    ).select(
        "host", "group_id",
        F.lower(F.regexp_extract("line", _DIR_RE, 1)).alias("rule"),
        F.regexp_extract("line", _DIR_RE, 2).alias("prefix"),
    )
    return agents.join(directives, ["host", "group_id"]).select(
        "host", "agent", "rule", "prefix"
    ).distinct()


def wildcard_regex(prefix):
    """Compile an RFC 9309 rule path to an anchored regex (a Column
    expression): metachars escaped, ``*`` → ``.*``, trailing ``$`` →
    end anchor. Runs once per RULE (broadcast table), never per url.
    The pattern produced is RE2-compatible (no lookaround), so the
    DuckDB oracle applies the identical compilation chain."""
    has_anchor = prefix.endswith("$")
    body = F.when(
        has_anchor, F.substring(prefix, 1, F.length(prefix) - 1)
    ).otherwise(prefix)
    esc = F.regexp_replace(body, r"([.+?(){}\[\]|^\\$])", r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    return F.concat(
        F.lit("^"), star,
        F.when(has_anchor, F.lit("$")).otherwise(F.lit("")),
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    wildcards: bool = False,
) -> DataFrame:
    """Append ``host`` and boolean ``allowed`` to ``urls`` under the
    ``agent`` group of ``rules`` (from ``parse_robots``). Longest match
    wins, Allow wins ties, unmatched urls and rule-less hosts allowed.
    ``wildcards=True`` switches from plain-prefix (1994 REP) to RFC 9309
    ``*``/``$`` matching; specificity stays the raw pattern length."""
    r = rules.filter(F.col("agent") == agent.lower()).select(
        "host", "rule", "prefix"
    )
    if wildcards:
        r = r.withColumn("_rx", wildcard_regex(F.col("prefix")))
    r = F.broadcast(r)
    # verdicts are computed over the slim DISTINCT url projection and
    # joined back — wide document rows never ride through the rule join,
    # and the join itself is a plain host-equi hash join (the prefix test
    # lives in the aggregation, not the join condition, so Catalyst never
    # falls back to a nested-loop plan).
    slim = (
        urls.select(F.col(url_col).alias("_u"))
        .distinct()
        .withColumn("host", host_of(F.col("_u")))
        .withColumn(
            "_path",
            F.coalesce(
                F.nullif(F.regexp_extract(F.col("_u"), _REST_RE, 1), F.lit("")),
                F.lit("/"),
            ),
        )
    )
    cand = slim.join(r, "host", "left")
    if wildcards:
        matched = F.col("_rx").isNotNull() & F.expr("_path RLIKE _rx")
    else:
        matched = F.col("prefix").isNotNull() & F.col("_path").startswith(
            F.col("prefix")
        )
    per_url = cand.groupBy("_u", "host").agg(
        F.coalesce(
            F.max(F.when(matched & (F.col("rule") == "allow"), F.length("prefix"))),
            F.lit(-1),
        ).alias("_allow_len"),
        F.coalesce(
            F.max(
                F.when(matched & (F.col("rule") == "disallow"), F.length("prefix"))
            ),
            F.lit(-1),
        ).alias("_dis_len"),
    )
    # If the caller's frame already carries a `host` column (common after
    # other operators in this module), keep THEIRS and return only the
    # verdict — a second host column makes any downstream F.col("host")
    # raise AMBIGUOUS_REFERENCE (round-4 ADVICE). Callers without one get
    # the derived host for free, as before.
    verdict_cols = ["_u", (F.col("_allow_len") >= F.col("_dis_len")).alias("allowed")]
    if "host" not in urls.columns:
        verdict_cols.insert(1, F.col("host"))
    verdict = per_url.select(*verdict_cols)
    return urls.join(
        verdict, urls[url_col] == verdict["_u"], "left"
    ).drop("_u")


def sitemap_locs(df: DataFrame, host_col: str = "host", xml_col: str = "xml") -> DataFrame:
    """Explode sitemap XML into one row per <loc> url: (host, loc).
    Native regexp over the document — tolerant of attribute noise and
    whitespace inside the tag, per real-world sitemaps."""
    return df.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.coalesce(
                F.regexp_extract_all(
                    F.col(xml_col), F.lit(r"(?is)<loc[^>]*>\s*(.*?)\s*</loc"), 1
                ),
                F.array(),
            )
        ).alias("loc"),
    )


def crawl_delays(
    df: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """(host, delay_secs) from robots.txt — the FIRST ``Crawl-delay:``
    value in the file (global reading: the politeness scheduler applies
    one cadence per host regardless of which agent group declared it —
    the conservative interpretation), 1 when absent or non-numeric. Pure
    regexp_extract, no shuffle."""
    raw = F.regexp_extract(
        F.col(body_col), r"(?im)^[ \t]*crawl-delay[ \t]*:[ \t]*(\d+)", 1
    )
    return df.select(
        F.col(host_col).alias("host"),
        F.when(raw != "", raw.cast("long"))
        .otherwise(F.lit(1).cast("long"))
        .alias("delay_secs"),
    )


def schedule_fetch_waves(
    frontier: DataFrame,
    delays: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """Politeness scheduling for an admitted frontier: within each host,
    urls are ordered deterministically (md5 of the url — unbiased, no
    coordination) and assigned ``wave`` 0,1,2,... with
    ``eta_secs = wave * delay_secs`` — the earliest time the fetcher may
    issue the request while honoring the host's crawl delay. One window
    per host (single Exchange) plus a broadcast-joinable delay table
    (one row per host with a robots.txt)."""
    w = Window.partitionBy(host_col).orderBy(F.md5(F.col(url_col)), F.col(url_col))
    return (
        frontier.join(delays, host_col, "left")
        .withColumn(
            "delay_secs", F.coalesce("delay_secs", F.lit(1).cast("long"))
        )
        .withColumn("wave", (F.row_number().over(w) - 1).cast("long"))
        .withColumn("eta_secs", (F.col("wave") * F.col("delay_secs")).cast("long"))
    )
