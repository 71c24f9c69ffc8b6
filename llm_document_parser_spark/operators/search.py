"""Search layer — the reference's Mongo aggregation pipelines as DataFrame
plans (reference: src/search_engine.py).

* ``build_search_filter`` — F5: composed text / type-$in / date-range /
  kind-$in predicates (reference: _build_search_pipeline :123-164). The
  reference duplicates this logic in a count pipeline (:209-252) and
  evaluates it twice; here the same filtered DataFrame serves both the page
  and the count — Catalyst reuses the plan.
* ``search_documents`` — O1/F6/W2: filter → sort (relevance-then-recency) →
  paginate → project, with the reference's clamps (per_page ≤ 100,
  reference: :168).
* ``search_facets`` — A2: the $facet multi-aggregation (type counts, kind
  counts, date range, total) in ONE pass over the filtered set via cube +
  conditional aggregation rather than four separate scans.
* ``extraction_summary_cols`` — A8: per-doc counts over maps using
  higher-order functions (reference: _create_extraction_summary :287-308).
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint

MAX_PER_PAGE = 100  # reference: src/config.py:32-33 clamp

# Mongo's text index applies english stopwords + stemming; the engine's
# deterministic spec drops a fixed stopword list and skips stemming (a
# stemmer is not portably reproducible across engines — documented deviation)
STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "that", "the", "to", "was",
    "were", "will", "with",
)


def tokenize_col(text: Column) -> Column:
    """ARRAY<STRING>: lowercase alphanumeric tokens minus stopwords — the
    engine's text-index analyzer (reference text index:
    src/search_engine.py:50-54)."""
    toks = F.split(F.lower(text), r"[^a-z0-9]+")
    return F.filter(
        toks, lambda t: (F.length(t) > 0) & ~t.isin(*STOPWORDS)
    )


def tokenize_query(q: str) -> list[str]:
    """Driver-side twin of tokenize_col for the (tiny) query string;
    preserves first-occurrence order, dedups."""
    toks = [t for t in re.split(r"[^a-z0-9]+", q.lower()) if t and t not in STOPWORDS]
    return list(dict.fromkeys(toks))


def build_token_index(
    df: DataFrame, id_col: str = "url", text_col: str = "extracted_text"
) -> DataFrame:
    """O2 — the inverted token index: (token, doc_id, tf) posting rows.

    The Spark-native analog of Mongo's text_search_index (reference:
    src/search_engine.py:50-54): explode tokens → one groupBy, built inline
    by each search operator."""
    # explode the raw split and apply the analyzer predicate as a ROW
    # filter (whole-stage codegen) rather than exploding the interpreted
    # tokenize_col HOF — identical token multiset, no per-element
    # lambda interpretation at corpus width
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")).alias(
                "token"
            ),
        )
        .filter((F.length("token") > 0) & ~F.col("token").isin(*STOPWORDS))
        .groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def quick_search(
    results: DataFrame,
    query: str,
    limit: int = 10,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """O2 — quick_search (reference: src/search_engine.py:365-410): OR-match
    the query terms against the token index, score = Σ tf over matched terms
    (the textScore analog), top-``limit`` with deterministic url tie-break,
    then a broadcast join back to the corpus for display fields (a
    100-char snippet)."""
    index = build_token_index(results, id_col=id_col, text_col=text_col)
    terms = tokenize_query(query)
    if not terms:
        terms = ["--no-terms--"]  # tokens are [a-z0-9]+, can never equal this
    scored = (
        index.filter(F.col("token").isin(terms))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("score"),
            F.count("*").cast("long").alias("n_terms_matched"),
        )
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)
    snippet = F.when(
        F.length(text_col) > 100,
        F.concat(F.substring(text_col, 1, 100), F.lit("...")),
    ).otherwise(F.col(text_col))
    display = results.select(
        F.col(id_col).alias("doc_id"),
        F.col("document_type"),
        snippet.alias("text_snippet"),
    )
    return (
        display.join(F.broadcast(top), "doc_id")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "document_type", "text_snippet", "score", "n_terms_matched")
    )


def build_search_filter(
    text_query: str | None = None,
    document_types: list[str] | None = None,
    doc_kinds: list[str] | None = None,
    date_from: datetime.datetime | None = None,
    date_to: datetime.datetime | None = None,
) -> Column:
    """F5 — compose the reference's $match stages into one predicate."""
    pred = F.lit(True)
    if text_query:
        # inline substring predicate for COMBINED filters (type/date + text);
        # pure relevance search goes through build_token_index/quick_search
        pred = pred & F.lower(F.col("extracted_text")).contains(text_query.lower())
    if document_types and document_types != ["all"]:
        pred = pred & F.col("document_type").isin(document_types)
    if doc_kinds:
        pred = pred & F.col("doc_kind").isin(doc_kinds)
    if date_from is not None:
        pred = pred & (F.col("warc_ts") >= F.lit(date_from))
    if date_to is not None:
        pred = pred & (F.col("warc_ts") <= F.lit(date_to))
    return pred


def extraction_summary_cols(df: DataFrame) -> DataFrame:
    """A8 — per-document summary counts (no shuffle; pure expressions)."""
    return df.withColumns(
        {
            "n_pattern_fields": F.size(F.map_keys("patterns")).cast("long"),
            "n_contact_values": F.aggregate(
                F.map_values("contacts"),
                F.lit(0),
                lambda acc, v: acc + F.size(v),
            ).cast("long"),
            "n_entities": F.aggregate(
                F.map_values("entities"),
                F.lit(0),
                lambda acc, v: acc + F.size(v),
            ).cast("long"),
        }
    )


def search_documents(
    results: DataFrame,
    page: int = 1,
    per_page: int = 20,
    preview_chars: int = 200,
    **filter_kwargs,
) -> DataFrame:
    """Filter → order by recency → paginate → project (O1/F6/X10)."""
    per_page = max(1, min(per_page, MAX_PER_PAGE))
    page = max(1, page)
    filtered = results.filter(build_search_filter(**filter_kwargs))
    ordered = filtered.orderBy(F.desc("warc_ts"), F.asc("url"))
    paged = ordered.offset((page - 1) * per_page).limit(per_page)
    preview = F.when(
        F.length("extracted_text") > preview_chars,
        F.concat(F.substring("extracted_text", 1, preview_chars), F.lit("...")),
    ).otherwise(F.col("extracted_text"))
    return extraction_summary_cols(paged).select(
        "url",
        "document_type",
        "doc_kind",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("crawled_at"),
        preview.alias("preview"),
        "n_pattern_fields",
        "n_contact_values",
        "n_entities",
    )


def search_facets(results: DataFrame, **filter_kwargs) -> DataFrame:
    """A2 — $facet analog: (facet, key, n) rows for document_type and
    doc_kind plus a __total__ row, from one cube pass."""
    filtered = results.filter(build_search_filter(**filter_kwargs))
    cube = filtered.cube("document_type", "doc_kind").agg(
        F.count("*").alias("n")
    )
    type_rows = cube.filter(
        F.col("document_type").isNotNull() & F.col("doc_kind").isNull()
    ).select(F.lit("document_type").alias("facet"), F.col("document_type").alias("key"), "n")
    kind_rows = cube.filter(
        F.col("document_type").isNull() & F.col("doc_kind").isNotNull()
    ).select(F.lit("doc_kind").alias("facet"), F.col("doc_kind").alias("key"), "n")
    total_row = cube.filter(
        F.col("document_type").isNull() & F.col("doc_kind").isNull()
    ).select(F.lit("total").alias("facet"), F.lit("__total__").alias("key"), "n")
    return type_rows.unionByName(kind_rows).unionByName(total_row)


def date_range(results: DataFrame) -> DataFrame:
    """A10 — min/max crawl timestamps of the corpus."""
    return results.agg(
        F.date_format(F.min("warc_ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("warc_ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )


BM25_K1, BM25_B = 1.2, 0.75  # the Lucene/Elasticsearch defaults


def bm25_scores(
    df: DataFrame,
    query: str,
    k: int | None = None,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """Okapi BM25 ranked retrieval over the inverted token index — the
    length-normalized upgrade of ``quick_search``'s raw-tf scoring (the
    standard Lucene/Elasticsearch practical default; Robertson & Walker
    1994). Returns ``(doc_id, bm25, n_terms_matched)`` for every document
    matching ≥1 query term, highest score first (``doc_id`` tie-break);
    ``k`` limits to the top-k (None = all matches, the oracle-stable
    configuration — a rounded near-tie at the k boundary is the only
    nondeterminism BM25 has).

    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (Lucene's non-negative form)
    w   = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Scale shape: doc lengths are one narrow projection of the text;
    (N, avgdl) is a broadcast 1-row corpus aggregate; per-term document
    frequencies are a broadcast agg of the term-pruned postings only. The
    corpus-wide work is index construction — scoring touches only the
    query terms' posting lists.
    """
    terms = tokenize_query(query)
    if not terms:
        terms = ["--no-terms--"]  # analyzer tokens are [a-z0-9]+; never equal
    index = build_token_index(df, id_col=id_col, text_col=text_col)
    # doc length = analyzer-token count, computed NARROWLY from the text
    # (size of the filtered token array per row) instead of re-aggregating
    # the posting index — sum(tf) per doc and the array size are the same
    # number by construction, and this removes the second full-corpus
    # explode+groupBy pass
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize_col(F.col(text_col))).cast("long").alias("dl"),
    ).filter(F.col("dl") > 0)  # index-absent (token-less) docs carry
    # no posting rows, so they must not count toward N or avgdl
    corpus = dl.agg(
        F.count("*").alias("n_docs_total"), F.avg("dl").alias("avgdl")
    )
    postings = index.filter(F.col("token").isin(terms))
    dfreq = postings.groupBy("token").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    scored = (
        postings.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs_total") - F.col("dfreq") + 0.5)
                / (F.col("dfreq") + 0.5)
            ),
        )
        .withColumn(
            "_w",
            F.col("_idf")
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("_w"), 6).alias("bm25"),
            F.count("*").cast("long").alias("n_terms_matched"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
    )
    return scored.limit(k) if k is not None else scored


def parse_text_query(q: str) -> tuple[list[str], list[list[str]], list[str]]:
    """Mongo ``$text $search`` grammar (reference passes user input straight
    through: src/search_engine.py:131): quoted substrings are mandatory
    phrases, ``-term`` negates, everything else is an OR'd loose term.
    Returns ``(loose_terms, phrases, negated_terms)`` — all analyzer-
    normalized; phrases are token lists (empty/stopword-only ones dropped)."""
    phrases = [
        toks
        for p in re.findall(r'"([^"]*)"', q)
        if (toks := tokenize_query(p))
    ]
    rest = re.sub(r'"[^"]*"', " ", q)
    negated: list[str] = []
    loose: list[str] = []
    for raw in rest.split():
        target = negated if raw.startswith("-") else loose
        target.extend(tokenize_query(raw.lstrip("-")))
    return list(dict.fromkeys(loose)), phrases, list(dict.fromkeys(negated))


def _phrase_occurrences(toks: Column, phrase: list[str]) -> Column:
    """LONG: contiguous occurrences of ``phrase`` in the token array —
    a narrow per-row HOF scan, no shuffle, no explode."""
    p = len(phrase)
    lit = F.array(*[F.lit(t) for t in phrase])
    starts = F.when(
        F.size(toks) >= p, F.sequence(F.lit(0), F.size(toks) - p)
    ).otherwise(F.array().cast("array<int>"))
    return F.size(
        F.filter(starts, lambda i: F.slice(toks, i + 1, p) == lit)
    ).cast("long")


def phrase_search(
    df: DataFrame,
    query: str,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """Full Mongo ``$text`` query semantics over the corpus — the part of
    the reference's search surface ``quick_search``/``bm25_scores`` don't
    cover (reference: src/search_engine.py:131 hands the raw user string to
    ``$text``, whose grammar includes ``"exact phrase"`` and ``-negation``):

    * a document matches iff it contains EVERY quoted phrase contiguously,
      contains NO negated term, and (when loose terms exist alongside no
      phrase, or in addition to phrases with zero occurrences impossible)
      matches ≥1 loose term when the query has no phrases;
    * score = Σ tf(loose terms) + Σ (occurrences × phrase length) — each
      phrase hit credits all its tokens, the textScore analog under this
      engine's deterministic analyzer (lowercase [a-z0-9]+, stopwords
      dropped, no stemming — the documented quick_search deviation; a
      phrase therefore matches on the stopword-stripped token stream).

    Scale shape: candidate pruning never scans the corpus for phrases —
    docs holding ALL of a phrase's terms come from the inverted index
    (filter on the phrase's terms → per-doc distinct-term count), loose/
    negated membership from the same index, and only the surviving
    candidate ids semijoin back to the corpus for the narrow per-row
    contiguity verify (Mongo's own index-then-verify strategy). Every join
    keys on doc_id; phrase verification is HOF-only.

    Returns every match as ``(doc_id, score, n_phrase_hits)`` ordered by
    score desc, doc_id asc.
    """
    index = build_token_index(df, id_col=id_col, text_col=text_col)
    loose, phrases, negated = parse_text_query(query)

    toks_needed = sorted(
        {t for p in phrases for t in p} | set(loose) | set(negated)
    )
    if not toks_needed:
        toks_needed = ["--no-terms--"]  # analyzer tokens can never equal
    # materialize the query-term postings ONCE: they feed up to three
    # sub-plans (loose scores, phrase candidates, negation), and a token
    # filter cannot push below the index's explode (the predicate is on
    # the GENERATED attribute), so each consumer would otherwise re-run
    # the full corpus explode+groupBy. The materialized table is tiny by
    # construction — only the query's terms' posting rows.
    postings = checkpoint(index.filter(F.col("token").isin(toks_needed)))

    # loose-term score per doc (0 rows for docs with no loose hits)
    if loose:
        loose_scores = (
            postings.filter(F.col("token").isin(loose))
            .groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("loose_score"))
        )
    else:
        loose_scores = None

    # candidates: all-phrase-terms docs (or loose matchers when no phrase)
    if phrases:
        phrase_terms = sorted({t for p in phrases for t in p})
        cands = (
            postings.filter(F.col("token").isin(phrase_terms))
            .groupBy("doc_id")
            .agg(F.count_distinct("token").alias("_nt"))
            .filter(F.col("_nt") >= len(phrase_terms))
            .select("doc_id")
        )
    elif loose_scores is not None:
        cands = loose_scores.select("doc_id")
    else:
        cands = index.select("doc_id").distinct().limit(0)

    if negated:
        neg_docs = (
            postings.filter(F.col("token").isin(negated))
            .select("doc_id")
            .distinct()
        )
        cands = cands.join(neg_docs, "doc_id", "left_anti")

    # join the candidate ids FIRST, tokenize after: the analyzer runs only
    # on surviving candidates, not the whole corpus (the projection used to
    # sit below the join, so every document paid tokenize_col)
    matched = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"))
        .join(cands, "doc_id")
        .select("doc_id", tokenize_col(F.col("_txt")).alias("_tk"))
    )
    if phrases:
        # materialize the candidates' token arrays BEFORE the contiguity
        # filter: the `occ > 0` predicate embeds the whole tokenizer +
        # phrase-scan expression DAG, and Catalyst pushes it below the
        # candidate join onto the corpus scan — where the tokenizer
        # (referenced 4x inside the predicate, no CSE under HOF lambdas)
        # re-runs per document on the scan task (measured: the entire
        # query's cost was this pushed-down filter). The checkpointed
        # table is one token array per CANDIDATE — index-pruned, not
        # corpus-wide.
        matched = checkpoint(matched)

    phrase_score = F.lit(0).cast("long")
    n_hits = F.lit(0).cast("long")
    keep = F.lit(True)
    for p in phrases:
        occ = _phrase_occurrences(F.col("_tk"), p)
        keep = keep & (occ > 0)
        phrase_score = phrase_score + occ * len(p)
        n_hits = n_hits + occ
    scored = matched.filter(keep).select(
        "doc_id",
        phrase_score.alias("_ps"),
        n_hits.alias("n_phrase_hits"),
    )
    if loose_scores is not None:
        scored = scored.join(loose_scores, "doc_id", "left")
    else:
        scored = scored.withColumn("loose_score", F.lit(None).cast("long"))
    return scored.select(
        "doc_id",
        (F.col("_ps") + F.coalesce("loose_score", F.lit(0))).alias("score"),
        "n_phrase_hits",
    ).orderBy(F.desc("score"), F.asc("doc_id"))
