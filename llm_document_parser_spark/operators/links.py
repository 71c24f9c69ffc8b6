"""Outlink extraction + host link graph + distributed PageRank.

The reference parses documents one at a time and has no notion of the crawl
graph (its closest surface is the per-document URL/email pattern pull,
reference: src/document_parser.py:58-105). At web scale the link structure
IS a first-class curation signal: Common-Crawl-style pipelines rank hosts by
centrality over the host-to-host link graph and use the score as a quality
prior for sampling. This module supplies that tier:

1. ``extract_outlinks`` — per-page ``<a href>`` targets pulled with ONE
   native ``regexp_extract_all`` (no Python), resolved against the page URL.
   The resolution rule is the documented RE2-safe subset (absolute http(s),
   scheme-relative ``//host/..``, root-relative ``/path``, and plain
   relative against the base directory — links containing ``..`` segments
   are dropped rather than mis-resolved; dot-segment normalization needs
   unbounded rewriting that a single regex pass cannot express portably).
2. ``host_link_graph`` — (src_host, dst_host, n_links) edges, self-loops
   (intra-host navigation) removed: one groupBy.
3. ``pagerank`` — damped PageRank over the weighted host graph, a fixed
   number of synchronous iterations; each iteration is one equi-join + one
   aggregation (+ a 1-row dangling-mass aggregate joined by cross — it
   broadcasts), looped by ``materialize.fixpoint``. No driver-side data:
   rank state lives in a DataFrame keyed by host.

Scale notes: the edge list shuffles once on dst_host per iteration; hosts
are ~10^7 at crawl scale (not 10^12 — pages collapse onto hosts before any
iteration starts), so rank state is a small fraction of corpus size. Skewed
in-degree (everyone links to twitter.com) is absorbed by the partial
aggregation Spark already applies to sum().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint, fixpoint, storage_scope
from .urls import host_of

# href value up to a quote/#: one capture, lookahead-free, (?i) inline flag
# — identical semantics under Java regex (Spark) and RE2 (DuckDB oracle).
HREF_RE = r"""(?i)<a[^>]*[\s"']href\s*=\s*["']([^"'#>]+)"""


def outlink_targets(html: Column) -> Column:
    """array<string> of raw href values in ``html`` (may be empty)."""
    return F.coalesce(
        F.regexp_extract_all(html, F.lit(HREF_RE), 1), F.array()
    )


def _base_parts(base_url: Column) -> tuple[Column, Column, Column]:
    """(scheme, host, base_dir) of a page URL — the per-PAGE regex work,
    factored out so extract_outlinks computes it once before the explode
    instead of once per link (5 links/page average on the web → 5× the
    regex evals, and the inlined expression tree blew Spark's generated-
    method size limit, knocking the whole stage out of codegen)."""
    scheme = F.lower(F.regexp_extract(base_url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = host_of(base_url)
    # base directory: path up to and including the last '/' (query/frag
    # stripped); defaults to '/' when the base has no path
    base_path = F.regexp_replace(
        F.regexp_extract(base_url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        r"[^/]*$",
        "",
    )
    base_dir = F.when(base_path == "", F.lit("/")).otherwise(base_path)
    return scheme, host, base_dir


def _resolve_with(
    scheme: Column, host: Column, base_dir: Column, target: Column
) -> Column:
    is_abs_http = target.rlike(r"^[Hh][Tt][Tt][Pp][Ss]?://")
    is_other_scheme = target.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:")
    has_dotdot = target.rlike(r"(^|/)\.\.(/|$)")
    resolved = (
        F.when(is_abs_http, target)
        .when(target.startswith("//"), F.concat(scheme, F.lit(":"), target))
        .when(target.startswith("/"), F.concat(scheme, F.lit("://"), host, target))
        .when(
            is_other_scheme | has_dotdot | (target == ""), F.lit(None)
        )
        .otherwise(F.concat(scheme, F.lit("://"), host, base_dir, target))
    )
    return F.when((scheme != "") & (host != ""), resolved)


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html_text"
) -> DataFrame:
    """One row per (page url, resolved outlink). ``html_col`` must be a
    STRING column (decode payloads first — charset.decode_payload).

    Plan shape: the per-page URL parts are projected BEFORE the explode —
    projections don't collapse across the Generate node, so Catalyst keeps
    them materialized once per page and each post-explode link row only
    evaluates the three cheap target-prefix tests. (Inlining everything
    per-link tripped WholeStageCodegenExec's method-size fallback —
    observed on the 50k bench leg — and quintupled the regex work.)"""
    scheme, host, base_dir = _base_parts(F.col(url_col))
    pre = pages.select(
        F.col(url_col).alias("url"),
        scheme.alias("_scheme"),
        host.alias("_host"),
        base_dir.alias("_base_dir"),
        outlink_targets(F.col(html_col)).alias("_targets"),
    )
    links = pre.select(
        "url", "_scheme", "_host", "_base_dir",
        F.explode("_targets").alias("target"),
    )
    return links.select(
        "url",
        _resolve_with(
            F.col("_scheme"), F.col("_host"), F.col("_base_dir"), F.col("target")
        ).alias("outlink"),
    ).filter(F.col("outlink").isNotNull())


def host_link_graph(outlinks: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) from an extract_outlinks result,
    self-loops removed; the crawl-graph input to pagerank()."""
    edges = outlinks.select(
        host_of(F.col("url")).alias("src_host"),
        host_of(F.col("outlink")).alias("dst_host"),
    ).filter(
        (F.col("src_host") != "")
        & (F.col("dst_host") != "")
        & (F.col("src_host") != F.col("dst_host"))
    )
    return edges.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def _edge_table(edges: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) checkpointed ONCE, hash-partitioned and
    sorted on the per-iteration join key, for the graph loops. The
    caller's edge derivation is typically a full corpus explode+aggregate
    (host_link_graph) that would otherwise re-run inside every action, and
    a checkpoint preserves partitioning and ordering, so every iteration's
    join on src_host reads the edge side exchange-free and sort-free — the
    in-memory analog of the bucketed+sorted table a 10^12-edge graph
    would persist anyway."""
    return checkpoint(
        edges.select("src_host", "dst_host", "n_links")
        .repartition(F.col("src_host"))
        .sortWithinPartitions("src_host")
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted damped PageRank over (src_host, dst_host, n_links) edges.

    Semantics (mirrored exactly by the unrolled-CTE DuckDB oracle in
    queries._pagerank_oracle): nodes = all hosts appearing on either side;
    initial rank 1/N; each iteration

        rank'(v) = (1-d)/N + d * (SUM over in-edges u->v of
                   rank(u) * n_links(u,v) / out_weight(u)  +  dangling/N)

    where dangling is the rank mass on nodes with no outgoing edges. Total
    mass stays 1 every iteration. Synchronous updates, fixed iteration
    count (crawl practice: ~weekly batch with a fixed budget, not
    convergence-driven).

    Plan per iteration: broadcast-able 1-row dangling aggregate, one
    equi-join ranks⋈edges on src, one groupBy dst — all key-partitioned;
    the loop is ``materialize.fixpoint``.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    with storage_scope():
        edges = _edge_table(edges)
        out_w = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_weight"))
        nodes = (
            edges.select(F.col("src_host").alias("host"))
            .union(edges.select(F.col("dst_host").alias("host")))
            .distinct()
        )
        # scalar graph cardinality, not data collection; an empty graph
        # iterates over no rows, and 1 keeps its arithmetic defined
        n_nodes = max(nodes.count(), 1)
        base = (1.0 - damping) / n_nodes

        def step(state: DataFrame) -> DataFrame:
            dangling = state.filter(F.col("out_weight").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
            )
            contribs = (
                state.join(edges, state.host == edges.src_host)
                .select(
                    F.col("dst_host").alias("host"),
                    (F.col("rank") * F.col("n_links") / F.col("out_weight")).alias(
                        "c"
                    ),
                )
                .groupBy("host")
                .agg(F.sum("c").alias("in_mass"))
            )
            return (
                state.select("host", "out_weight")
                .join(contribs, "host", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "host",
                    "out_weight",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("in_mass"), F.lit(0.0))
                            + F.col("dangling_mass") / F.lit(float(n_nodes))
                        )
                    ).alias("rank"),
                )
            )

        # (host, out_weight|null, rank) — null out_weight marks dangling nodes
        state = fixpoint(
            nodes.join(out_w, nodes.host == out_w.src_host, "left").select(
                "host", "out_weight", F.lit(1.0 / n_nodes).alias("rank")
            ),
            step,
            iterations=iterations,
        )
    return state.select("host", F.col("rank").alias("pagerank"))


# ---------------------------------------------------------------------------
# anchor text — the link-text corpus signal
# ---------------------------------------------------------------------------
# The text INSIDE <a> tags, keyed by the link's target: the classic
# web-relevance signal (anchor-text corpora describe the TARGET page in
# other authors' words — used for retrieval training sets and as a
# quality prior alongside PageRank). Same regex discipline as HREF_RE:
# one (?i) pattern, no lookaheads/backreferences, identical under Java
# regex and RE2. Plain-text anchors only — an anchor whose inner content
# contains nested markup ('<a ...><b>x</b></a>') yields no match by
# design ([^<]* stops at the tag); DOM-accurate extraction belongs to
# the lxml path of the boilerplate stripper, not a regex.

ANCHOR_RE = HREF_RE + r"""(?:#[^"']*)?["'][^>]*>([^<]*)</a"""


def anchor_pairs(html: Column) -> Column:
    """array<struct<href,anchor>> of (href, inner text) pairs — the two
    capture groups of one pattern, extracted in parallel and zipped
    (regexp_extract_all returns per-group arrays over the SAME matches,
    so index i of both arrays is the same <a> tag)."""
    hrefs = F.coalesce(F.regexp_extract_all(html, F.lit(ANCHOR_RE), 1), F.array())
    texts = F.coalesce(F.regexp_extract_all(html, F.lit(ANCHOR_RE), 2), F.array())
    return F.zip_with(
        hrefs, texts,
        lambda h, t: F.struct(h.alias("href"), t.alias("anchor")),
    )


def normalize_anchor(anchor: Column) -> Column:
    """Lowercase, whitespace-collapsed, trimmed anchor text."""
    return F.trim(F.regexp_replace(F.lower(anchor), r"\s+", " "))


def extract_anchor_texts(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, target_url, anchor) per plain-text anchor: hrefs resolved
    against the page url (same resolution as extract_outlinks), anchor
    normalized, empty anchors and unresolvable targets dropped. Narrow
    per-row work then one explode — no shuffle until the caller's agg.

    ``html_col`` must be an already-DECODED string column — the same
    contract as extract_outlinks. Route binary payloads through
    operators/charset.decode_payload first; a raw byte reinterpretation
    here would yield mojibake anchor text on legacy-encoded pages
    (round-4 ADVICE)."""
    h = F.col(html_col)
    scheme, host, base_dir = _base_parts(F.col(url_col))
    pairs = pages.select(
        F.col(url_col),
        scheme.alias("_s"), host.alias("_h"), base_dir.alias("_d"),
        F.explode(anchor_pairs(h)).alias("p"),
    )
    return (
        pairs.select(
            url_col,
            _resolve_with(
                F.col("_s"), F.col("_h"), F.col("_d"), F.col("p.href")
            ).alias("target_url"),
            normalize_anchor(F.col("p.anchor")).alias("anchor"),
        )
        .filter(F.col("target_url").isNotNull() & (F.col("anchor") != ""))
    )


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 32,
) -> DataFrame:
    """Terminal target of every redirect chain: ``(src, final_url, hops,
    resolved)`` for each distinct source in ``edges`` (one out-edge per
    source — HTTP 3xx semantics). ``resolved`` is 0 (with NULL
    final/hops) for sources whose chain does not reach a terminal within
    ``max_hops`` — redirect loops and over-long chains, which crawlers
    drop rather than follow.

    Pointer doubling, not step-by-step walking: the mapping composes
    with itself each round (x→y, y→z becomes x→z with summed hop
    counts), so ``ceil(log2(max_hops))`` equi-joins cover chains up to
    ``max_hops`` long — 5 rounds for 32 hops where naive iteration
    takes 32. Each round is one left equi-join on the redirect key; the
    loop is ``materialize.fixpoint``, which stops early once every chain
    has ended. State is one row per source throughout; no driver-side
    data.
    """
    import math

    with storage_scope():
        e = checkpoint(
            edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y"))
            .distinct()
        )
        srcs = e.select(F.col("x").alias("s")).distinct()

        def step(m: DataFrame) -> DataFrame:
            # SHUFFLE_HASH on the mapping side: both sides of the composing
            # join are the same 1-row-per-source table, so sort-merge pays
            # two full sorts per round for nothing — a per-partition hash
            # build skips both (measured ~25-45% off the whole resolve at
            # 1M edges). Build-side memory is rows/shuffle-partitions, the
            # normal SHJ sizing contract at any scale.
            nxt = m.select(
                F.col("x").alias("nx"), F.col("y").alias("ny"),
                F.col("hops").alias("nh"), F.col("done").alias("nd"),
            ).hint("shuffle_hash")
            keep = F.col("done") | F.col("nx").isNull()
            return m.join(nxt, (m["y"] == nxt["nx"]) & (~m["done"]), "left").select(
                "x",
                F.when(keep, F.col("y")).otherwise(F.col("ny")).alias("y"),
                F.when(keep, F.col("hops"))
                .otherwise(F.col("hops") + F.col("nh"))
                .alias("hops"),
                F.when(keep, F.col("done")).otherwise(F.col("nd")).alias("done"),
            )

        # done at init: the first hop already landed on a non-source (terminal)
        m = fixpoint(
            e.join(srcs, e["y"] == srcs["s"], "left").select(
                "x", "y",
                F.lit(1).cast("long").alias("hops"),
                F.col("s").isNull().alias("done"),
            ),
            step,
            iterations=max(1, math.ceil(math.log2(max_hops))),
            # after k rounds an unfinished row has hops = 2^k: this counts
            # the unfinished rows while another round can still help, and
            # is 0 on the last round, so cycles end unresolved, not raised
            changed=F.count_if(~F.col("done") & (F.col("hops") < max_hops)),
        )
    return m.select(
        F.col("x").alias("src"),
        F.when(F.col("done"), F.col("y")).alias("final_url"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        F.col("done").cast("long").alias("resolved"),
    )


def link_spam_signals(edges: DataFrame) -> DataFrame:
    """Host-level link-spam signals from an aggregated crawl graph
    (``host_link_graph`` output: src_host, dst_host, n_links):

    * ``out_deg`` / ``in_deg`` — distinct-neighbor degrees,
    * ``out_links`` — total outbound link weight,
    * ``recip_out`` / ``recip_frac`` — how many of a host's out-neighbors
      link straight back (nepotistic link-exchange; the classic link-farm
      fingerprint — TrustRank/anti-spam literature's first feature),
    * ``spam_flag`` — 1 when at least half the out-neighborhood is
      reciprocal AND the host links to ≥2 hosts (integer arithmetic, no
      float threshold).

    Scale shape: the input is already the DISTINCT host-pair table, so
    reciprocity is ONE equi-join of that table against itself on the
    swapped pair key, and the degrees are two host-keyed aggs — every
    stage hash-partitioned, nothing quadratic, no host ever holds more
    state than its own neighbor list. Low-quality-source demotion for
    crawl scheduling and corpus tiering is the consumer."""
    pairs = edges.select("src_host", "dst_host", "n_links")
    outs = pairs.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_deg"),
        F.sum("n_links").cast("long").alias("out_links"),
    )
    ins = pairs.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    rev = pairs.select(
        F.col("dst_host").alias("src_host"), F.col("src_host").alias("dst_host")
    )
    rec = (
        pairs.join(rev, ["src_host", "dst_host"], "left_semi")
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.count(F.lit(1)).alias("recip_out"))
    )
    full = (
        outs.join(ins, "host", "full")
        .join(rec, "host", "left")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("out_links", F.lit(0)).cast("long").alias("out_links"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("recip_out", F.lit(0)).cast("long").alias("recip_out"),
        )
    )
    return full.select(
        "host",
        "out_deg",
        "out_links",
        "in_deg",
        "recip_out",
        F.round(
            F.col("recip_out").cast("double")
            / F.greatest(F.col("out_deg"), F.lit(1)).cast("double"),
            6,
        ).alias("recip_frac"),
        (
            (F.col("recip_out") * 2 >= F.col("out_deg"))
            & (F.col("out_deg") >= 2)
        ).cast("int").alias("spam_flag"),
    )


def hits_scores(
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """Weighted HITS (Kleinberg, JACM 1999) over (src_host, dst_host,
    n_links): mutually reinforcing hub/authority scores — the directory
    page that links to every good source is a HUB (PageRank undervalues
    it: nothing links back); the canonical reference everyone cites is an
    AUTHORITY. Crawl seeding wants hubs; quality priors want authorities;
    PageRank alone surfaces neither distinction.

    Semantics (mirrored exactly by queries._hits_oracle): every host
    starts with hub = authority = 1; each synchronous iteration

        auth'(v) = SUM over in-edges  u->v of n_links * hub(u)
        hub'(u)  = SUM over out-edges u->v of n_links * auth'(v)

    then BOTH vectors L1-normalize (divide by their sums — 1-row
    broadcast aggregates; L1 keeps the algebra rational, unlike the
    textbook L2). Fixed iteration budget, deterministic.

    Plan per iteration: two edge equi-joins + two groupBys (host-keyed
    shuffles AQE coalesces) + two 1-row normalizer cross joins. The loop
    is ``materialize.fixpoint``; the auth vector is also checkpointed
    inside the iteration because the hub step and the new state both read
    it. Without those cuts the unevaluated DAG — and the re-derivation of
    the caller's edge expression from the source scan — roughly DOUBLES
    per iteration (measured: 21 s for 3 iterations on a 14-host graph
    whose edges derive from a parquet scan; ~1 s after).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    with storage_scope():
        edges = _edge_table(edges)

        def step(state: DataFrame) -> DataFrame:
            # every state row is a node: the left joins below give hosts
            # with no in- (out-) edges a zero authority (hub)
            nodes = state.select("host")
            auth_raw = (
                state.select(F.col("host").alias("src_host"), "hub")
                .join(edges, "src_host")
                .groupBy(F.col("dst_host").alias("host"))
                .agg(F.sum(F.col("n_links") * F.col("hub")).alias("a_raw"))
            )
            a_full = nodes.join(auth_raw, "host", "left").select(
                "host", F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("a_raw")
            )
            a_norm = a_full.agg(F.sum("a_raw").alias("a_sum"))
            a_full = checkpoint(
                a_full.crossJoin(F.broadcast(a_norm)).select(
                    "host",
                    F.when(F.col("a_sum") > 0, F.col("a_raw") / F.col("a_sum"))
                    .otherwise(0.0)
                    .alias("auth"),
                )
            )
            hub_raw = (
                a_full.select(F.col("host").alias("dst_host"), "auth")
                .join(edges, "dst_host")
                .groupBy(F.col("src_host").alias("host"))
                .agg(F.sum(F.col("n_links") * F.col("auth")).alias("h_raw"))
            )
            h_full = nodes.join(hub_raw, "host", "left").select(
                "host", F.coalesce(F.col("h_raw"), F.lit(0.0)).alias("h_raw")
            )
            h_norm = h_full.agg(F.sum("h_raw").alias("h_sum"))
            h_full = h_full.crossJoin(F.broadcast(h_norm)).select(
                "host",
                F.when(F.col("h_sum") > 0, F.col("h_raw") / F.col("h_sum"))
                .otherwise(0.0)
                .alias("hub"),
            )
            return h_full.join(a_full, "host").select("host", "hub", "auth")

        nodes = (
            edges.select(F.col("src_host").alias("host"))
            .union(edges.select(F.col("dst_host").alias("host")))
            .distinct()
        )
        return fixpoint(
            nodes.select("host", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")),
            step,
            iterations=iterations,
        )
