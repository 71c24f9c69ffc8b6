"""Query catalog: every SURVEY.md §2 operator family as a (Spark builder,
ANSI-SQL oracle) pair, exposed through __spark_entry__.py.

Each builder takes (spark, sf_dir) and returns a DataFrame; the oracle SQL
runs on DuckDB over the same parquet views. Portability rules observed
throughout (so value-hashes match):

* counts/ids cast to BIGINT; ``F.size`` returns int → always ``.cast("long")``
* float aggregates rounded (2 for money sums, 4-6 for ratios) — raw
  pass-through doubles are left unrounded (identical bits on both sides)
* timestamps never returned raw: always ``date_format``/``strftime`` strings
  (wall-clock round-trips are timezone-invariant)
* hashing is md5 hex (cross-engine); xxhash64 stays engine-internal
* DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  global-by-default behavior
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import dedup, similarity, textstats
from .pipeline import extract_pipeline

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _t(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True
) -> DataFrame:
    """Read one sf table. ``rebalance=False`` opts a query out of the
    small-file scan rebalance below — right for tiny-slice queries
    (``doc_id < 40``-style planted-dup bases: 40 rows spread over 64
    partitions is pure task overhead) and for single-pass hash
    aggregations (exact_dup_groups: the extra full-row exchange of the
    text payload costs more than the one-task scan it parallelizes —
    measured +0.5 s at sf1.0)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if rebalance and name in _SCAN_BALANCE_TABLES:
        n = _scan_balance_width(spark, f"{sf_dir}/{name}.parquet")
        if n:
            return df.repartition(n)
    return df


# Repartition-after-read gate (guide §2.5 "input skew": one small file =
# one scan task). The sf tables are single-file/single-row-group parquet,
# so EVERY narrow stage above them — interpreted HOF shingling, regex
# gates, explode fan-outs — runs on ONE core until the first exchange
# (measured at sf1.0: the curation_funnel shingle projection alone was
# 80 s single-task; 64-way it is ~3 s). The gate is size-derived, so at
# real corpus scale (many files / many row groups) it returns 0 and adds
# nothing: a 100 TB table already scans wide, and an unconditional
# repartition there would be a full-corpus shuffle.
_SCAN_BALANCE_MAX_BYTES = 64 << 20  # only rebalance small inputs
_SCAN_BALANCE_ROW_BYTES = 64 << 10  # ~64 KB of parquet per partition
# Only the corpus tables are rebalanced: their queries run heavy per-row
# work (shingle/gram/regex/vector expressions) where a 64-way spread of a
# one-task scan is worth an extra small exchange. The relational tables'
# queries are scan-bound columnar aggregations with map-side partials —
# measured: rebalancing events/orders made those legs 1.6-2.7x SLOWER
# (the round-robin exchange + its pre-sort costs more than the single
# scan task), while documents/embeddings queries gained 2-14x.
_SCAN_BALANCE_TABLES = {"documents", "embeddings"}


def _parse_bytes(v: str) -> int:
    """Spark size strings: plain bytes or k/m/g(b) suffixed."""
    s = v.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    try:
        if s and s[-1] in mult:
            return int(float(s[:-1]) * mult[s[-1]])
        return int(s)
    except ValueError:
        return 128 << 20


def _scan_balance_width(spark: SparkSession, path: str) -> int:
    import math
    import os as _os

    try:
        if _os.path.isdir(path):
            files = [
                _os.path.join(path, f)
                for f in _os.listdir(path)
                if f.endswith(".parquet")
            ]
            size = sum(_os.path.getsize(f) for f in files)
            n_files = max(1, len(files))
        else:
            size = _os.path.getsize(path)
            n_files = 1
    except OSError:
        return 0
    if size == 0 or size > _SCAN_BALANCE_MAX_BYTES:
        return 0
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
    max_split = _parse_bytes(raw)
    est_scan_parts = max(n_files, math.ceil(size / max_split))
    par = spark.sparkContext.defaultParallelism
    if est_scan_parts >= par:
        return 0
    target = min(2 * par, max(1, size // _SCAN_BALANCE_ROW_BYTES))
    return target if target > est_scan_parts else 0


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ===========================================================================
# §2.4 aggregations / §2.2 filters
# ===========================================================================


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                          AS sum_qty,
           round(sum(l_extendedprice), 2)                     AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
           round(avg(l_quantity), 4)                          AS avg_qty,
           count(*)                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — partial/final hash agg, filter pushdown (A4 analog)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "top_orders",
    """
    SELECT o_orderkey, o_totalprice AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — top-k plans as TakeOrderedAndProject (no full sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").alias("total_price"))
    )


@query(
    "segment_order_stats",
    """
    SELECT c_mktsegment,
           count(*)                   AS order_cnt,
           round(sum(o_totalprice),2) AS revenue,
           round(avg(o_totalprice),4) AS avg_price
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 inner equi join + A1 agg; customer side broadcasts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@query(
    "regional_revenue",
    """
    SELECT r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey   = c_custkey
      JOIN lineitem ON l_orderkey  = o_orderkey
    GROUP BY r_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: dims broadcast, fact never shuffles until the final agg."""
    r = F.broadcast(_t(spark, sf_dir, "region"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@query(
    "big_spender_nations",
    """
    SELECT c_nationkey, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY c_nationkey
    """,
)
def big_spender_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast left-semi join (reference's Mongo $in lookup shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "customers_without_orders",
    """
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — anti join (reference's existence-check-before-insert shape)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey"
    )


@query(
    "order_priority_counts",
    "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority",
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — group-count (reference: $group {_id, count} shape)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@query(
    "order_status_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — the $facet multi-aggregation as a cube (grouping sets)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@query(
    "events_facets",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY CUBE (event_type)
    """,
)
def events_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 — facet counts + grand total in one pass."""
    return (
        _t(spark, sf_dir, "events")
        .cube("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "events_summary",
    """
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_event,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_event,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def events_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A10 — min/max range + counts (reference: get_search_facets)."""
    return _t(spark, sf_dir, "events").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_event"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_event"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "hourly_event_counts",
    """
    SELECT strftime(ts, '%Y-%m-%d %H') AS hour_bucket, event_type,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/T7 — tumbling-window quota counting (fixed-window rate limiter)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour_bucket"), "event_type"
        )
        .agg(F.count("*").alias("n"))
    )


# ===========================================================================
# §2.5 windows / §2.6 sort-limit-paginate
# ===========================================================================


@query(
    "latest_events_per_user",
    """
    SELECT user_id, event_id, rnk FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rnk
      FROM events) WHERE rnk <= 3
    """,
)
def latest_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — relevance-then-recency ranking (reference: search sort)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "rnk")
    )


@query(
    "paginated_orders",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders ORDER BY o_orderdate DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def paginated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — sort → skip → limit pagination (reference: search_engine)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .offset(40)
        .limit(20)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


# ===========================================================================
# §2.7 set ops / §2.8 scalar functions
# ===========================================================================


@query(
    "union_sources",
    """
    SELECT source, count(*) AS n FROM (
      SELECT doc_id, source FROM documents WHERE lang = 'en'
      UNION ALL
      SELECT doc_id, source FROM documents WHERE lang = 'zh'
    ) GROUP BY source
    """,
)
def union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — union of training sources (reference: pd.concat)."""
    d = _t(spark, sf_dir, "documents")
    en = d.filter(F.col("lang") == "en").select("doc_id", "source")
    zh = d.filter(F.col("lang") == "zh").select("doc_id", "source")
    return en.unionByName(zh).groupBy("source").agg(F.count("*").alias("n"))


@query(
    "token_dedup_stats",
    """
    SELECT doc_id,
           len(string_split(lower(text), ' '))                 AS n_tokens,
           len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
    FROM documents
    """,
)
def token_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/U3 — array_distinct dedup semantics."""
    toks = textstats.tokens_col(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )


@query(
    "event_scalar_funcs",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d')        AS day,
           floor(value * 1.1 * 100) / 100  AS value_adj,
           upper(event_type)               AS etype,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def event_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9/X12/X14/X15 — date format, arithmetic, case, JSON extraction."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.floor(F.col("value") * 1.1 * 100) / 100).alias("value_adj"),
        F.upper("event_type").alias("etype"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@query(
    "docs_regex_filter",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE regexp_matches(text, 'spark.*join')
    """,
)
def docs_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 — rlike predicate."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").rlike("spark.*join"))
        .select("doc_id", "n_chars")
    )


@query(
    "docs_first_after_the",
    """
    SELECT doc_id, regexp_extract(text, 'the ([a-z]+)', 1) AS after_the
    FROM documents WHERE regexp_extract(text, 'the ([a-z]+)', 1) <> ''
    """,
)
def docs_first_after_the(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1-shape — single regexp capture extraction."""
    ex = F.regexp_extract(F.col("text"), "the ([a-z]+)", 1)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", ex.alias("after_the"))
        .filter(F.col("after_the") != "")
    )


@query(
    "export_flatten",
    """
    SELECT doc_id,
           string_split(text, ' ')[1] AS first_token,
           array_to_string(list_slice(string_split(text, ' '), 1, 5), ', ') AS head_tokens
    FROM documents
    """,
)
def export_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/X11/X17 — export flattening: first element + delimited join."""
    toks = F.split(F.col("text"), " ")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.try_element_at(toks, F.lit(1)).alias("first_token"),
        F.array_join(F.slice(toks, 1, 5), ", ").alias("head_tokens"),
    )


@query(
    "synth_invoice_roundtrip",
    """
    WITH synth AS (
      SELECT o_orderkey,
             printf('INVOICE #INV-%d Total: $%.2f Quantity: %d',
                    o_orderkey, o_totalprice, o_orderkey % 7 + 1) AS text
      FROM orders WHERE o_orderkey < 2000)
    SELECT o_orderkey,
           regexp_extract(text, '(?i)(?:total|amount due|balance):?\\s*(\\$\\d+(?:\\.\\d{2})?)', 1) AS total_amount,
           regexp_extract(text, '(?i)(?:quantity|qty):?\\s*(\\d+)', 1) AS qty
    FROM synth
    """,
)
def synth_invoice_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 (template synthesis) + X1 (pattern extraction) round-trip."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    text = F.format_string(
        "INVOICE #INV-%d Total: $%.2f Quantity: %d",
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.col("o_orderkey") % 7 + 1,
    )
    synth = o.select("o_orderkey", text.alias("text"))
    return synth.select(
        "o_orderkey",
        F.regexp_extract(
            "text", r"(?i)(?:total|amount due|balance):?\s*(\$\d+(?:\.\d{2})?)", 1
        ).alias("total_amount"),
        F.regexp_extract("text", r"(?i)(?:quantity|qty):?\s*(\d+)", 1).alias("qty"),
    )


@query(
    "synth_invoice_spans",
    r"""
    WITH synth AS (
      SELECT o_orderkey,
             printf('INVOICE #INV-%d Total: $%.2f Quantity: %d',
                    o_orderkey, o_totalprice, o_orderkey % 7 + 1) AS text
      FROM orders WHERE o_orderkey < 2000),
    vals AS (
      SELECT o_orderkey, text,
             regexp_extract(text, '(?i)(?:total|amount due|balance):?\s*(\$\d+(?:\.\d{2})?)', 1) AS total_amount,
             regexp_extract(text, '(?i)(?:quantity|qty):?\s*(\d+)', 1) AS qty
      FROM synth)
    SELECT o_orderkey, field,
           span_start::BIGINT AS span_start, span_end::BIGINT AS span_end
    FROM (
      SELECT o_orderkey, 'total_amount' AS field,
             strpos(text, total_amount) - 1 AS span_start,
             strpos(text, total_amount) - 1 + length(total_amount) AS span_end
      FROM vals
      UNION ALL
      SELECT o_orderkey, 'qty',
             strpos(text, qty) - 1,
             strpos(text, qty) - 1 + length(qty)
      FROM vals)
    WHERE span_start >= 0
    """,
)
def synth_invoice_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star span output oracled end-to-end: the pipeline's
    text_spans_col (first-occurrence character span of each extracted
    field's first value, 0-based end-exclusive — pipeline.py:56) over the
    synthesized invoice text, exploded to one row per (url-key, field).
    DuckDB reproduces the spans with strpos over identically-extracted
    values, so span arithmetic is verified value-for-value cross-engine."""
    from .pipeline import text_spans_col

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    text = F.format_string(
        "INVOICE #INV-%d Total: $%.2f Quantity: %d",
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.col("o_orderkey") % 7 + 1,
    )
    synth = o.select("o_orderkey", text.alias("text"))
    pats = F.map_from_arrays(
        F.array(F.lit("total_amount"), F.lit("qty")),
        F.array(
            F.array(
                F.regexp_extract(
                    "text",
                    r"(?i)(?:total|amount due|balance):?\s*(\$\d+(?:\.\d{2})?)",
                    1,
                )
            ),
            F.array(F.regexp_extract("text", r"(?i)(?:quantity|qty):?\s*(\d+)", 1)),
        ),
    )
    return (
        synth.select(
            "o_orderkey",
            F.explode(text_spans_col(F.col("text"), pats)).alias("sp"),
        )
        .select(
            "o_orderkey",
            F.col("sp.field").alias("field"),
            F.col("sp.start").alias("span_start"),
            F.col("sp.end").alias("span_end"),
        )
    )


# ===========================================================================
# text analysis (training-data pipeline tier)
# ===========================================================================

_LANG_HIT_SQL = {
    "en": r"\b(?:the|and|of|to|is|in|that|it)\b",
    "es": r"\b(?:el|la|de|que|los|una|por|con)\b",
    "de": r"\b(?:der|die|das|und|ist|nicht|ein|mit)\b",
    "fr": r"\b(?:le|les|des|est|une|dans|pour|que)\b",
}

_LANG_ID_ORACLE = (
    "WITH h AS (SELECT doc_id, "
    + ", ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS h_{lang}"
        for lang, pat in _LANG_HIT_SQL.items()
    )
    + ", greatest("
    + ", ".join(f"len(regexp_extract_all(lower(text), '{p}'))" for p in _LANG_HIT_SQL.values())
    + ") AS best FROM documents) "
    "SELECT doc_id, CASE "
    + " ".join(f"WHEN best > 0 AND h_{lang} = best THEN '{lang}'" for lang in _LANG_HIT_SQL)
    + " ELSE 'und' END AS lang_pred FROM h"
)


@query("doc_lang_id", _LANG_ID_ORACLE)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-hit argmax (n-gram heuristic family)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang_pred")
    )


@query(
    "doc_quality",
    r"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS words
      FROM documents)
    SELECT doc_id,
           round(
             least(n / 500.0, 1.0) * 0.3
             + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.4
             + (CASE WHEN (CASE WHEN n > 0 THEN punct / n ELSE 0.0 END) <= 0.1
                     THEN 1.0 ELSE 0.0 END) * 0.15
             + (CASE WHEN words > 0
                      AND (n - (words - 1)) / words >= 3.0
                      AND (n - (words - 1)) / words <= 10.0
                     THEN 1.0 ELSE 0.0 END) * 0.15, 6) AS quality
    FROM m
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / alpha-ratio / punctuation / word-length."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", textstats.quality_score(F.col("text")).alias("quality")
    )


@query(
    "doc_token_counts",
    r"""
    SELECT doc_id,
           len(string_split(lower(text), ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
    FROM documents
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish pre-tokenizer."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("ws_tokens"),
        textstats.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


@query(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text digest fingerprint."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", textstats.fingerprint(F.col("text")).alias("fp")
    )


@query(
    "crawl_frontier",
    r"""
    WITH u AS (
      SELECT doc_id, source, source || '.example.com' AS host,
        CASE (doc_id // 20) % 5
          WHEN 0 THEN '/private/s' || doc_id
          WHEN 1 THEN '/private/ok/k' || doc_id
          WHEN 2 THEN '/a/' || doc_id
          WHEN 3 THEN '/b/' || doc_id
          ELSE '/c/' || doc_id END AS path
      FROM documents),
    adm AS (
      SELECT doc_id, host, 'https://' || host || path AS url
      FROM u
      WHERE (NOT starts_with(path, '/private')
             OR starts_with(path, '/private/ok'))
        AND length(source) <> 4),
    r AS (
      SELECT doc_id, host, url,
             row_number() OVER (PARTITION BY host
                                ORDER BY md5(url), url) AS rk
      FROM adm)
    SELECT doc_id, host, url FROM r WHERE rk <= 5
    """,
)
def crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The politeness-tier capstone: one composed job chaining the full
    robots.txt parse+admission (operators/robots.py), host blocklisting
    (operators/urls.py), and the per-host anti-domination cap
    (operators/sampling.py) — candidate urls in, the next ≤5 fetchable
    urls per admitted host out. The engine runs the REAL machinery
    (window-parsed robots rules, suffix-explode blocklist join, md5-order
    cap window); the oracle states the expected end-to-end semantics in
    closed form (the robots body and blocklist are fixed shapes), so any
    drift in ANY composed stage mismatches rows."""
    from .operators.robots import parse_robots, robots_allowed
    from .operators.sampling import cap_per_group
    from .operators.urls import mark_blocked_hosts

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    ds = did.cast("string")
    # (doc_id // 20) decorrelates the path shape from the source column
    # (source is doc_id % 20 in the corpus), so EVERY host sees all five
    # path shapes and the Allow-override fires on every host.
    shape = F.floor(did / 20) % 5
    path = (
        F.when(shape == 0, F.concat(F.lit("/private/s"), ds))
        .when(shape == 1, F.concat(F.lit("/private/ok/k"), ds))
        .when(shape == 2, F.concat(F.lit("/a/"), ds))
        .when(shape == 3, F.concat(F.lit("/b/"), ds))
        .otherwise(F.concat(F.lit("/c/"), ds))
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    robots = d.select("source").distinct().select(
        F.concat("source", F.lit(".example.com")).alias("host"),
        F.lit(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok"
        ).alias("body"),
    )
    blocklist = (
        d.filter(F.length("source") == 4)
        .select(F.concat("source", F.lit(".example.com")).alias("domain"))
        .distinct()
    )
    admitted = robots_allowed(urls, parse_robots(robots))
    admitted = mark_blocked_hosts(admitted, blocklist)
    fetchable = admitted.filter(F.col("allowed") & ~F.col("blocked"))
    capped = cap_per_group(fetchable, 5, group_col="host", id_col="url")
    return capped.select("doc_id", "host", "url")


_ROBOTS_UA_SQL = r"(?i)^user-agent:\s*(\S+)\s*$"
_ROBOTS_DIR_SQL = r"(?i)^(allow|disallow):\s*(\S*)\s*$"


@query(
    "robots_admission",
    f"""
    WITH hosts AS (SELECT DISTINCT source FROM documents),
    bodies AS (
      SELECT source || '.example.com' AS host,
        CASE ascii(substr(source, 4, 1)) % 3
          WHEN 0 THEN '# politeness' || chr(10) || 'User-agent: *' || chr(10)
                      || 'Disallow: /private' || chr(10)
                      || 'Allow: /private/ok' || chr(10) || chr(10)
                      || 'User-agent: evilbot' || chr(10) || 'Disallow: /'
          WHEN 1 THEN 'User-agent: googlebot' || chr(10) || 'User-agent: *'
                      || chr(10) || 'Disallow:' || chr(10) || 'Disallow: /tmp'
                      || chr(10) || 'Allow: /tmp/keep/deep'
          ELSE 'User-agent: specialbot' || chr(10) || 'Disallow: /'
        END AS body
      FROM hosts),
    l AS (
      SELECT host, i, trim(regexp_replace(ln[i], '#.*$', '')) AS line
      FROM (SELECT host, string_split(body, chr(10)) AS ln FROM bodies)
      CROSS JOIN (SELECT UNNEST(range(1, 8)) AS i) r
      WHERE i <= len(ln)),
    tagged AS (
      SELECT host, i, line,
             regexp_extract(line, '{_ROBOTS_UA_SQL}', 1) <> '' AS is_ua
      FROM l),
    starts AS (
      SELECT host, i, line, is_ua,
             (is_ua AND NOT coalesce(
                lag(is_ua) OVER (PARTITION BY host ORDER BY i), false))
               AS starts_group
      FROM tagged),
    grp AS (
      SELECT host, line, is_ua,
             sum(CASE WHEN starts_group THEN 1 ELSE 0 END)
               OVER (PARTITION BY host ORDER BY i) AS group_id
      FROM starts),
    agents AS (
      SELECT host, group_id,
             lower(regexp_extract(line, '{_ROBOTS_UA_SQL}', 1)) AS agent
      FROM grp WHERE is_ua),
    dirs AS (
      SELECT host, group_id,
             lower(regexp_extract(line, '{_ROBOTS_DIR_SQL}', 1)) AS rule,
             regexp_extract(line, '{_ROBOTS_DIR_SQL}', 2) AS prefix
      FROM grp
      WHERE NOT is_ua AND regexp_extract(line, '{_ROBOTS_DIR_SQL}', 2) <> ''),
    rules AS (
      SELECT DISTINCT a.host, a.agent, d.rule, d.prefix
      FROM agents a JOIN dirs d ON a.host = d.host AND a.group_id = d.group_id),
    star AS (SELECT host, rule, prefix FROM rules WHERE agent = '*'),
    urls AS (
      SELECT doc_id, source || '.example.com' AS host,
        CASE doc_id % 4
          WHEN 0 THEN '/private/x' || doc_id
          WHEN 1 THEN '/private/ok/x'
          WHEN 2 THEN '/tmp/keep/deepfile'
          ELSE '/tmp/drop' END AS path
      FROM documents),
    agg AS (
      SELECT u.doc_id, u.host,
        max(CASE WHEN s.prefix IS NOT NULL AND starts_with(u.path, s.prefix)
                      AND s.rule = 'allow' THEN length(s.prefix) END) AS al,
        max(CASE WHEN s.prefix IS NOT NULL AND starts_with(u.path, s.prefix)
                      AND s.rule = 'disallow' THEN length(s.prefix) END) AS dl
      FROM urls u LEFT JOIN star s ON u.host = s.host
      GROUP BY u.doc_id, u.host, u.path)
    SELECT doc_id, host, coalesce(al, -1) >= coalesce(dl, -1) AS allowed
    FROM agg
    """,
)
def robots_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance end-to-end, cross-engine: per-host robots
    bodies (three shapes: a normal *-group with an Allow override + a
    separate evilbot group; a multi-agent run with an empty Disallow and
    a longest-match Allow; a file with NO *-group at all) are built
    identically on both sides. The engine parses them relationally
    (posexplode + lag/sum windows, operators/robots.py) and admits urls
    by longest-prefix/allow-wins-ties; the oracle restates the same state
    machine with SQL window functions. Group binding, comment stripping,
    empty-directive dropping, multi-agent runs, and the verdict formula
    all have to agree row-for-row."""
    from .operators.robots import parse_robots, robots_allowed

    d = _t(spark, sf_dir, "documents")
    nl = F.lit("\n")
    v = F.ascii(F.substring("source", 4, 1)) % 3
    body = (
        F.when(
            v == 0,
            F.concat(
                F.lit("# politeness"), nl, F.lit("User-agent: *"), nl,
                F.lit("Disallow: /private"), nl, F.lit("Allow: /private/ok"),
                nl, nl, F.lit("User-agent: evilbot"), nl, F.lit("Disallow: /"),
            ),
        )
        .when(
            v == 1,
            F.concat(
                F.lit("User-agent: googlebot"), nl, F.lit("User-agent: *"), nl,
                F.lit("Disallow:"), nl, F.lit("Disallow: /tmp"), nl,
                F.lit("Allow: /tmp/keep/deep"),
            ),
        )
        .otherwise(
            F.concat(F.lit("User-agent: specialbot"), nl, F.lit("Disallow: /"))
        )
    )
    robots = (
        d.select("source").distinct()
        .select(
            F.concat("source", F.lit(".example.com")).alias("host"),
            body.alias("body"),
        )
    )
    rules = parse_robots(robots)
    did = F.col("doc_id")
    path = (
        F.when(did % 4 == 0, F.concat(F.lit("/private/x"), did.cast("string")))
        .when(did % 4 == 1, F.lit("/private/ok/x"))
        .when(did % 4 == 2, F.lit("/tmp/keep/deepfile"))
        .otherwise(F.lit("/tmp/drop"))
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path
        ).alias("url"),
    )
    return robots_allowed(urls, rules).select("doc_id", "host", "allowed")


@query(
    "gopher_quality_flags",
    r"""
    WITH inj AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN '- ' || substr(text, 1, 40) || chr(10) || '- '
                      || substr(text, 41, 40) || chr(10) || '- '
                      || substr(text, 81, 40)
          WHEN 1 THEN substr(text, 1, 40) || '...' || chr(10)
                      || substr(text, 41, 40) || '...'
          WHEN 3 THEN text || ' ## ## ## ## ## ##'
          ELSE text END AS t
      FROM documents
    ), w AS (
      SELECT doc_id, t,
             list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS ws,
             list_filter(string_split(t, chr(10)), x -> x <> '') AS ls
      FROM inj
    ), m AS (
      SELECT doc_id,
        len(ws)::BIGINT AS n_words,
        round(CASE WHEN len(ws) > 0 THEN
          list_sum(list_transform(ws, x -> length(x)))::DOUBLE / len(ws)
          ELSE 0 END, 6) AS mean_word_len,
        round(CASE WHEN len(ws) > 0 THEN
          (length(t) - length(replace(t, '#', ''))
           + len(regexp_extract_all(t, '\.\.\.')))::DOUBLE / len(ws)
          ELSE 0 END, 6) AS symbol_word_ratio,
        round(CASE WHEN len(ls) > 0 THEN
          len(list_filter(ls, x -> substr(x, 1, 2) IN ('- ', '* ', '• ')))::DOUBLE
          / len(ls) ELSE 0 END, 6) AS bullet_line_frac,
        round(CASE WHEN len(ls) > 0 THEN
          len(list_filter(ls, x -> ends_with(x, '...')))::DOUBLE / len(ls)
          ELSE 0 END, 6) AS ellipsis_line_frac,
        round(CASE WHEN len(ws) > 0 THEN
          len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
          / len(ws) ELSE 0 END, 6) AS alpha_word_frac,
        (list_contains(list_transform(ws, x -> lower(x)), 'the')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'be')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'to')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'of')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'and')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'that')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'have')::BIGINT
         + list_contains(list_transform(ws, x -> lower(x)), 'with')::BIGINT
        )::BIGINT AS stopword_hits
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           stopword_hits,
           (n_words >= 5 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND stopword_hits >= 2) AS passes
    FROM m
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher rule set (Rae et al. 2021 Table A1), cross-engine:
    documents are deterministically mutated on both sides into the four
    failure shapes (all-bulleted lines, all-ellipsis lines, plain,
    symbol-spammed), then every per-rule metric AND the combined verdict
    must match DuckDB's independent list-expression formulation.
    min_words lowered to 5 because the synthetic docs run 10-99 words —
    the production default (50) is the paper's."""
    from .operators.textstats import gopher_quality

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("- "), F.substring("text", 1, 40), nl,
                F.lit("- "), F.substring("text", 41, 40), nl,
                F.lit("- "), F.substring("text", 81, 40),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.substring("text", 1, 40), F.lit("..."), nl,
                F.substring("text", 41, 40), F.lit("..."),
            ),
        )
        .when(did % 4 == 3, F.concat(F.col("text"), F.lit(" ## ## ## ## ## ##")))
        .otherwise(F.col("text"))
    )
    return gopher_quality(d.select("doc_id", t.alias("t")), "doc_id", "t",
                          min_words=5)


@query(
    "blocklist_filter",
    r"""
    WITH bl AS (
      SELECT DISTINCT source || '.example.com' AS domain
      FROM documents WHERE length(source) = 4
      UNION
      SELECT DISTINCT source || '.example.org'
      FROM documents WHERE source = 'src12'
    ), u AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN 'www.' || source || '.example.com'
          WHEN 1 THEN 'cdn.ads.' || source || '.example.com'
          ELSE source || '.example.org' END AS host
      FROM documents
    )
    SELECT doc_id, host,
           EXISTS (SELECT 1 FROM bl
                   WHERE u.host = bl.domain
                      OR u.host LIKE '%.' || bl.domain) AS blocked
    FROM u
    """,
)
def blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style host blocklisting with subdomain semantics, cross-engine:
    urls are built over www./cdn.ads. subdomains of blocklisted and clean
    registrable domains; the engine's suffix-explode + broadcast equi-join
    over DISTINCT hosts (operators/urls.py:mark_blocked_hosts) must agree
    row-for-row with the oracle's literal suffix-LIKE EXISTS — including
    subdomain hits, same-suffix-different-tld misses ('.org' blocked only
    for the one exactly-listed domain), and untouched rows."""
    from .operators.urls import mark_blocked_hosts

    d = _t(spark, sf_dir, "documents")
    blocklist = (
        d.filter(F.length("source") == 4)
        .select(F.concat("source", F.lit(".example.com")).alias("domain"))
        .union(
            d.filter(F.col("source") == "src12").select(
                F.concat("source", F.lit(".example.org"))
            )
        )
        .distinct()
    )
    did = F.col("doc_id")
    host = (
        F.when(did % 3 == 0, F.concat(F.lit("www."), F.col("source"),
                                      F.lit(".example.com")))
        .when(did % 3 == 1, F.concat(F.lit("cdn.ads."), F.col("source"),
                                     F.lit(".example.com")))
        .otherwise(F.concat(F.col("source"), F.lit(".example.org")))
    )
    pages = d.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p/"), did.cast("string")).alias(
            "url"
        ),
    )
    return mark_blocked_hosts(pages, blocklist).select("doc_id", "host", "blocked")


# Deterministic non-Latin blocks appended to the (all-ASCII) documents
# table on BOTH engines so the script profile has real work to do.
_CYR = " привет мир"  # привет мир
_HAN = " 漢字文章内容"  # 漢字文章内容
_ARA = " مرحبا بالعالم"  # مرحبا بالعالم


@query(
    "doc_script_profile",
    f"""
    WITH inj AS (
      SELECT doc_id,
             text ||
             CASE
               WHEN doc_id % 8 = 1 THEN repeat('{_CYR}', 60)
               WHEN doc_id % 4 = 1 THEN '{_CYR}'
               WHEN doc_id % 4 = 2 THEN '{_HAN}'
               WHEN doc_id % 4 = 3 THEN '{_ARA}'
               ELSE ''
             END AS t
      FROM documents
    ), counts AS (
      SELECT doc_id,
             length(regexp_replace(t, '[^\\p{{Latin}}]', '', 'g')) AS latin_chars,
             length(regexp_replace(t, '[^\\p{{Cyrillic}}]', '', 'g')) AS cyrillic_chars,
             length(regexp_replace(t, '[^\\p{{Han}}]', '', 'g')) AS han_chars,
             length(regexp_replace(t, '[^\\p{{Arabic}}]', '', 'g')) AS arabic_chars
      FROM inj
    )
    SELECT doc_id, latin_chars, cyrillic_chars, han_chars, arabic_chars,
           CASE
             WHEN greatest(latin_chars, cyrillic_chars, han_chars, arabic_chars) = 0
               THEN 'none'
             WHEN latin_chars >= greatest(cyrillic_chars, han_chars, arabic_chars)
               THEN 'latin'
             WHEN cyrillic_chars >= greatest(han_chars, arabic_chars)
               THEN 'cyrillic'
             WHEN han_chars >= arabic_chars THEN 'han'
             ELSE 'arabic'
           END AS dominant_script
    FROM counts
    """,
)
def doc_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profile, cross-engine: deterministic Cyrillic / Han /
    Arabic blocks are appended to the ASCII corpus on both sides (every
    8th doc gets a Cyrillic block big enough to DOMINATE, exercising the
    argmax, not just the counts); then Java regex \\p{IsXxx} classes and
    DuckDB RE2 \\p{Xxx} classes — two independently-maintained Unicode
    script tables — must agree char-for-char and on the argmax."""
    from .operators import textstats

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(did % 8 == 1, F.repeat(F.lit(_CYR), 60))
        .when(did % 4 == 1, F.lit(_CYR))
        .when(did % 4 == 2, F.lit(_HAN))
        .when(did % 4 == 3, F.lit(_ARA))
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        *[
            textstats.script_char_count(t, s).alias(f"{s}_chars")
            for s in textstats.SCRIPT_ORDER
        ],
        textstats.dominant_script(t).alias("dominant_script"),
    )


@query(
    "page_metadata",
    r"""
    WITH b AS (
      SELECT doc_id, lang, source, text,
             CASE WHEN doc_id % 2 = 0 THEN '"' ELSE '''' END AS q,
             doc_id % 3 = 0 AS up,
             doc_id % 5 <> 4 AS has_meta
      FROM documents
    ), built AS (
      SELECT doc_id,
        (CASE WHEN up THEN '<HTML LANG=' ELSE '<html lang=' END)
        || q || upper(lang) || q || '><head><meta charset=' || q || 'utf-8'
        || q || '>'
        || (CASE WHEN up THEN '<TITLE>' ELSE '<title>' END)
        || 'Doc &amp; ' || doc_id || '  ' || substr(text, 1, 12)
        || (CASE WHEN up THEN '</TITLE>' ELSE '</title>' END)
        || (CASE WHEN has_meta THEN
              '<meta name=' || q || 'description' || q || ' id=' || q || 'm1'
              || q || ' content=' || q || 'Desc ' || doc_id
              || ' &quot;x&quot;' || q || '>'
              || '<link rel=' || q || 'canonical' || q || ' href=' || q
              || 'https://' || source || '.example/c/' || doc_id || q || '>'
            ELSE '' END)
        || '<meta property=' || q || 'og:title' || q || ' content=' || q
        || 'OG ' || doc_id || q || '>'
        || '</head><body><p>' || substr(text, 1, 40)
        || '</p><title>decoy</title></body></html>' AS h
      FROM b
    )
    SELECT doc_id,
      trim(replace(replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_extract(h, '(?is)<title[^>]*>(.*?)</title', 1),
                       '\s+', ' ', 'g'),
        '&amp;','&'),'&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),
        '&apos;',''''),'&nbsp;',' ')) AS title,
      trim(replace(replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_extract(h,
          '(?is)<meta\s[^>]*name\s*=\s*["'']description["''][^>]*content\s*=\s*["'']([^"'']*)',
          1), '\s+', ' ', 'g'),
        '&amp;','&'),'&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),
        '&apos;',''''),'&nbsp;',' ')) AS meta_description,
      trim(regexp_extract(h,
        '(?is)<link\s[^>]*rel\s*=\s*["'']canonical["''][^>]*href\s*=\s*["'']([^"'']*)',
        1)) AS canonical,
      trim(replace(replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_extract(h,
          '(?is)<meta\s[^>]*property\s*=\s*["'']og:title["''][^>]*content\s*=\s*["'']([^"'']*)',
          1), '\s+', ' ', 'g'),
        '&amp;','&'),'&lt;','<'),'&gt;','>'),'&quot;','"'),'&#39;',''''),
        '&apos;',''''),'&nbsp;',' ')) AS og_title,
      lower(trim(regexp_extract(h,
        '(?is)<html\s[^>]*lang\s*=\s*["'']([^"'']*)', 1))) AS declared_lang
    FROM built
    """,
)
def page_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML metadata extraction, cross-engine: both engines build the SAME
    hostile markup per document (alternating quote styles, upper/lowercase
    tags, extra attributes between name and content, entities in the
    title/description, a decoy second <title>, every 5th doc missing the
    description+canonical tags entirely), then each extracts
    title/description/canonical/og:title/lang with its OWN regex engine
    (Java regex in codegen vs DuckDB RE2) and its own entity-decode chain.
    Any divergence in pattern semantics, flag handling, first-match rule,
    or decode order mismatches a row."""
    from .operators import metadata

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    q = F.when(F.col("doc_id") % 2 == 0, F.lit('"')).otherwise(F.lit("'"))
    up = F.col("doc_id") % 3 == 0
    has_meta = F.col("doc_id") % 5 != 4
    h = F.concat(
        F.when(up, F.lit("<HTML LANG=")).otherwise(F.lit("<html lang=")),
        q, F.upper("lang"), q,
        F.lit("><head><meta charset="), q, F.lit("utf-8"), q, F.lit(">"),
        F.when(up, F.lit("<TITLE>")).otherwise(F.lit("<title>")),
        F.lit("Doc &amp; "), did, F.lit("  "), F.substring("text", 1, 12),
        F.when(up, F.lit("</TITLE>")).otherwise(F.lit("</title>")),
        F.when(
            has_meta,
            F.concat(
                F.lit("<meta name="), q, F.lit("description"), q,
                F.lit(" id="), q, F.lit("m1"), q,
                F.lit(" content="), q, F.lit("Desc "), did,
                F.lit(" &quot;x&quot;"), q, F.lit(">"),
                F.lit("<link rel="), q, F.lit("canonical"), q,
                F.lit(" href="), q, F.lit("https://"), F.col("source"),
                F.lit(".example/c/"), did, q, F.lit(">"),
            ),
        ).otherwise(F.lit("")),
        F.lit("<meta property="), q, F.lit("og:title"), q,
        F.lit(" content="), q, F.lit("OG "), did, q, F.lit(">"),
        F.lit("</head><body><p>"), F.substring("text", 1, 40),
        F.lit("</p><title>decoy</title></body></html>"),
    )
    return metadata.page_metadata(
        d.select("doc_id", h.alias("html_text")), "html_text"
    ).drop("html_text")


@query(
    "doc_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), t AS (SELECT * FROM toks WHERE token <> ''),
    vocab AS (SELECT token, count(*)::DOUBLE AS c FROM t GROUP BY token),
    tot AS (SELECT sum(c) AS s FROM vocab),
    lm AS (SELECT token, ln(c / s) AS logp FROM vocab, tot)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(-logp), 6) AS avg_neg_logp
    FROM t JOIN lm USING (token)
    GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (unigram perplexity proxy): train
    token statistics over the corpus, broadcast the model, score every
    document map-side (operators/lm.py). The oracle re-derives the same
    model and scores in pure SQL — both engines compute ln(count/total)
    independently and must agree per document to 6 decimals."""
    from .operators.lm import score_unigram_logprob, train_unigram_lm

    d = _t(spark, sf_dir, "documents")
    lm = train_unigram_lm(d, "text")
    return score_unigram_logprob(d, lm, "doc_id", "text")


@query(
    "doc_nfc_stats",
    r"""
    WITH inj AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN replace(text, 'e', 'e' || chr(769))
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           length(t) AS raw_chars,
           length(nfc_normalize(t)) AS nfc_chars,
           length(t) - length(nfc_normalize(t)) AS composed,
           md5(nfc_normalize(t)) AS nfc_digest
    FROM inj
    """,
)
def doc_nfc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization, cross-engine: the documents table is
    ASCII by construction, so every third doc deterministically gets its
    'e's decomposed into e + U+0301 (combining acute) on BOTH sides; the
    engine's unicodedata-backed pandas UDF (operators/normalize.py) must
    then agree with DuckDB's utf8proc ``nfc_normalize`` on code-point
    counts AND on the md5 of the recomposed UTF-8 bytes — two independent
    Unicode implementations checking each other per document."""
    from .operators.normalize import nfc_stats

    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return nfc_stats(injected, "doc_id", "t")


@query(
    "canonical_url_stats",
    r"""
    WITH urls AS (
      SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/a/b/page/'
                      || doc_id || '/?utm_source=feed&id=' || doc_id
                      || '&utm_campaign=x#top'
          WHEN 1 THEN 'https://' || source || '.example.com/path/' || doc_id
          WHEN 2 THEN 'https://cdn.' || source
                      || '.example.com:443//x/?fbclid=abc'
          ELSE 'http://' || source || '.example.com/a//b/?id=' || doc_id
               || '&utm_medium=em'
        END AS u
      FROM documents),
    parts0 AS (
      SELECT doc_id,
        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_replace(
          regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
          '^[^@]*@', '', 'g')) AS hostport,
        regexp_replace(
          regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1),
          '#.*$', '', 'g') AS rest
      FROM urls),
    parts AS (
      SELECT doc_id, scheme, rest,
        CASE scheme
          WHEN 'http' THEN regexp_replace(hostport, ':80$', '', 'g')
          WHEN 'https' THEN regexp_replace(hostport, ':443$', '', 'g')
          ELSE hostport END AS host
      FROM parts0),
    pq AS (
      SELECT doc_id, scheme, host,
        regexp_replace(regexp_extract(rest, '^([^?]*)', 1),
                       '/{2,}', '/', 'g') AS collapsed,
        regexp_replace(
          regexp_replace('&' || regexp_extract(rest, '\?(.*)$', 1),
                         '&(?:utm_[A-Za-z_]*|fbclid)=[^&]*', '', 'g'),
          '^&', '', 'g') AS query
      FROM parts),
    norm AS (
      SELECT doc_id, scheme, host, query,
        CASE WHEN collapsed = '' THEN '/'
             WHEN collapsed = '/' THEN '/'
             ELSE regexp_replace(collapsed, '/$', '', 'g') END AS path
      FROM pq)
    SELECT doc_id,
      CASE WHEN scheme <> '' AND host <> '' THEN
        scheme || '://' || host || path
        || CASE WHEN query <> '' THEN '?' || query ELSE '' END
      END AS canonical_url,
      host,
      len(list_filter(string_split(path, '/'), x -> x <> ''))::BIGINT AS depth
    FROM norm
    """,
)
def canonical_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urls.py) over deterministically
    messy synthesized URLs: mixed-case scheme/host, default ports,
    tracking params (utm_*/fbclid), fragments, duplicate and trailing
    slashes — canonical form, host, and path depth verified
    value-for-value cross-engine."""
    from .operators import urls as U

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    u = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTP://WWW."), F.col("source"),
                F.lit(".Example.COM:80/a/b/page/"), did,
                F.lit("/?utm_source=feed&id="), did,
                F.lit("&utm_campaign=x#top"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/path/"), did,
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://cdn."), F.col("source"),
                F.lit(".example.com:443//x/?fbclid=abc"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), F.col("source"),
                F.lit(".example.com/a//b/?id="), did, F.lit("&utm_medium=em"),
            )
        )
    )
    return d.select(
        "doc_id",
        U.canonical_url(u).alias("canonical_url"),
        U.host_of(u).alias("host"),
        U.url_depth(u).alias("depth"),
    )


@query(
    "doc_repetition_stats",
    r"""
    WITH units AS (
      SELECT doc_id, trim(u) AS unit
      FROM documents, unnest(string_split(text, ' ')) AS t(u)
      WHERE trim(u) <> ''
    ),
    unit_counts AS (
      SELECT doc_id, unit, count(*) AS c, length(unit) AS chars
      FROM units GROUP BY doc_id, unit
    ),
    unit_stats AS (
      SELECT doc_id,
             sum(c)::BIGINT AS n_units,
             round(1.0 - count(*) / sum(c), 6) AS dup_unit_frac,
             round(sum(CASE WHEN c > 1 THEN c * chars ELSE 0 END) * 1.0
                   / greatest(sum(c * chars), 1), 6) AS dup_unit_char_frac
      FROM unit_counts GROUP BY doc_id
    ),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    bigram_counts AS (
      SELECT doc_id, b, count(*) AS c
      FROM toks, unnest(list_transform(range(1, len(l)),
                                       i -> l[i] || ' ' || l[i+1])) AS t(b)
      GROUP BY doc_id, b
    ),
    top_bigram AS (
      SELECT doc_id, b, c
      FROM (SELECT doc_id, b, c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY c DESC, b) AS rn
            FROM bigram_counts)
      WHERE rn = 1
    )
    SELECT d.doc_id,
           u.n_units,
           u.dup_unit_frac,
           u.dup_unit_char_frac,
           coalesce(t.b, '') AS top_bigram,
           coalesce(t.c, 0)::BIGINT AS top_bigram_count,
           round(coalesce(t.c * length(t.b), 0) * 1.0
                 / greatest(length(d.text), 1), 6) AS top_bigram_char_frac
    FROM documents d
    JOIN unit_stats u USING (doc_id)
    LEFT JOIN top_bigram t USING (doc_id)
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (textstats.repetition_stats)
    at token granularity — the documents table is single-line, so units are
    tokens here; line-granularity runs over multi-line pages corpora in
    tests/test_textstats_repetition.py."""
    return textstats.repetition_stats(
        _t(spark, sf_dir, "documents"), unit_sep=" "
    )


@query(
    "paragraph_dedup_docs",
    r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    lists AS (
      SELECT doc_id, string_split(text, chr(10)) AS l FROM all_docs
    ),
    paras AS (
      SELECT doc_id, i, trim(l[i]) AS para
      FROM lists, unnest(range(1, len(l) + 1)) AS t(i)
      WHERE trim(l[i]) <> ''
    ),
    kept AS (
      SELECT doc_id, i, para
      FROM (SELECT doc_id, i, para,
                   row_number() OVER (PARTITION BY md5(para)
                                      ORDER BY doc_id, i) AS rn
            FROM paras)
      WHERE rn = 1
    )
    SELECT d.doc_id,
           coalesce(string_agg(k.para, chr(10) ORDER BY k.i), '')
             AS deduped_text,
           count(k.para)::BIGINT AS n_kept
    FROM all_docs d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id
    """,
)
def paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup with reassembly (dedup.dedup_paragraphs)
    over the planted-duplicate corpus: each planted clone's only paragraph
    already occurred at the original doc_id, so clones come back empty."""
    return dedup.dedup_paragraphs(_docs_with_exact_dups(spark, sf_dir))


# ===========================================================================
# deduplication
# ===========================================================================


def _docs_with_exact_dups(
    spark: SparkSession, sf_dir: str, rebalance: bool = True
) -> DataFrame:
    d = _t(spark, sf_dir, "documents", rebalance=rebalance)
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.select("doc_id", "text").unionByName(dup)


_CURATE_HITS_SQL = ", ".join(
    f"len(regexp_extract_all(lower(text), '{pat}')) AS h_{lang}"
    for lang, pat in _LANG_HIT_SQL.items()
)
_CURATE_BEST_SQL = (
    "greatest("
    + ", ".join(f"len(regexp_extract_all(lower(text), '{p}'))" for p in _LANG_HIT_SQL.values())
    + ")"
)
_CURATE_LANG_CASE = (
    "CASE "
    + " ".join(f"WHEN best > 0 AND h_{lang} = best THEN '{lang}'" for lang in _LANG_HIT_SQL)
    + " ELSE 'und' END"
)
_CURATE_QUALITY_SQL = """
    round(least(n / 500.0, 1.0) * 0.3
          + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.4
          + (CASE WHEN (CASE WHEN n > 0 THEN punct / n ELSE 0.0 END) <= 0.1
                  THEN 1.0 ELSE 0.0 END) * 0.15
          + (CASE WHEN words > 0
                   AND (n - (words - 1)) / words >= 3.0
                   AND (n - (words - 1)) / words <= 10.0
                  THEN 1.0 ELSE 0.0 END) * 0.15, 6)
"""


@query(
    "curated_corpus_stats",
    rf"""
    WITH all_docs AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, source FROM documents
      WHERE doc_id < 50),
    m AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS words,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
             {_CURATE_HITS_SQL}, {_CURATE_BEST_SQL} AS best
      FROM all_docs),
    scored AS (
      SELECT source, doc_id, ws_tokens,
             {_CURATE_LANG_CASE} AS lang_pred,
             {_CURATE_QUALITY_SQL} AS quality,
             min(doc_id) OVER (PARTITION BY digest) AS keep_id
      FROM m)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
           min(quality) AS min_quality,
           max(quality) AS max_quality
    FROM scored
    WHERE doc_id = keep_id AND lang_pred = 'en' AND quality >= 0.8
    GROUP BY source
    """,
)
def curated_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pass a 100 TB pipeline runs as
    ONE plan: exact dedup (keep the min doc_id per normalized digest, via a
    window over the digest hash — one shuffle), language gate (stopword
    argmax == 'en'), quality gate (score >= 0.8), then per-source corpus
    accounting. min/max are used instead of avg for the float stat — they
    are addition-order-independent, so the cross-engine hash is exact."""
    d = _t(spark, sf_dir, "documents")
    all_docs = d.select("doc_id", "text", "source").unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source"
        )
    )
    text = F.col("text")
    scored = all_docs.select(
        "source",
        "doc_id",
        textstats.token_count(text).alias("ws_tokens"),
        textstats.lang_id(text).alias("lang_pred"),
        textstats.quality_score(text).alias("quality"),
        dedup.normalized_digest(text).alias("digest"),
    ).withColumn("keep_id", F.min("doc_id").over(Window.partitionBy("digest")))
    kept = scored.filter(
        (F.col("doc_id") == F.col("keep_id"))
        & (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.8)
    )
    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


@query(
    "exact_dup_groups",
    r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)
    SELECT digest, count(*) AS dup_count, min(doc_id) AS keep_id
    FROM (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
          FROM all_docs)
    GROUP BY digest HAVING count(*) > 1
    """,
)
def exact_dup_groups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy duplicate groups (planted + natural dups)."""
    return dedup.exact_dup_groups(
        _docs_with_exact_dups(spark, sf_dir, rebalance=False)
    )


_MINHASH_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(sh, s -> md5('{h}:' || s)))" for h in range(8)
) + "]"

_MINHASH_ORACLE = f"""
    WITH base AS (
      SELECT doc_id AS id, lower(text) AS t FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 100000, lower(substr(text, strpos(text, ' ') + 1))
      FROM documents WHERE doc_id < 40),
    tok AS (SELECT id, string_split(t, ' ') AS tk FROM base),
    sh AS (SELECT id,
                  list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
           FROM tok WHERE len(tk) >= 3),
    sig AS (SELECT id, {_MINHASH_SIG_SQL} AS sg FROM sh),
    band AS (SELECT id, b, sg[2*b+1] || '|' || sg[2*b+2] AS key
             FROM sig CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b) u)
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id
"""


@query("minhash_near_dup_pairs", _MINHASH_ORACLE)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: originals vs drop-first-word copies."""
    d = _t(spark, sf_dir, "documents", rebalance=False).filter(
        F.col("doc_id") < 40
    )
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1, length(text))").alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(mutated)
    return dedup.minhash_candidate_pairs(both, num_hashes=8, bands=4)


@query(
    "incremental_near_dups",
    f"""
    WITH corpus AS (
      SELECT doc_id AS id, lower(text) AS t, 'corpus' AS side
      FROM documents WHERE doc_id < 40),
    newb AS (
      SELECT doc_id + 100000 AS id,
             lower(substr(text, strpos(text, ' ') + 1)) AS t, 'new' AS side
      FROM documents WHERE doc_id < 40 AND doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lower(text), 'new'
      FROM documents WHERE doc_id >= 40 AND doc_id < 60),
    base AS (SELECT * FROM corpus UNION ALL SELECT * FROM newb),
    tok AS (SELECT id, side, string_split(t, ' ') AS tk FROM base),
    sh AS (SELECT id, side,
                  list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
           FROM tok WHERE len(tk) >= 3),
    sig AS (SELECT id, side, {{sig_sql}} AS sg FROM sh),
    band AS (SELECT id, side, b, sg[2*b+1] || '|' || sg[2*b+2] AS key
             FROM sig CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b) u)
    SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
    FROM band n JOIN band c ON n.b = c.b AND n.key = c.key
    WHERE n.side = 'new' AND c.side = 'corpus'
    """.replace("{sig_sql}", _MINHASH_SIG_SQL),
)
def incremental_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-crawl production pattern: the corpus
    ships a persisted (id, band, key) MinHash index
    (dedup.minhash_band_index); a new batch (drop-first-word mutations of
    half the corpus + 20 genuinely fresh docs) is shingled/hashed ALONE
    and equi-joined against that index (dedup.incremental_near_dups) —
    the corpus itself is never re-shingled. Oracle re-derives both sides'
    band tables in SQL and joins new×corpus."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 40).select("doc_id", "text")
    index = dedup.minhash_band_index(corpus, num_hashes=8, bands=4)
    mutated = d.filter((F.col("doc_id") < 40) & (F.col("doc_id") % 2 == 0)).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1, length(text))").alias("text"),
    )
    fresh = d.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).select(
        "doc_id", "text"
    )
    new_batch = mutated.unionByName(fresh)
    return dedup.incremental_near_dups(new_batch, index, num_hashes=8, bands=4)


@query(
    "verified_near_dup_pairs",
    _MINHASH_ORACLE.replace(
        "SELECT DISTINCT a.id AS id_a, b.id AS id_b\n"
        "    FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id",
        """, cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id)
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6)
             AS jaccard
    FROM cand c JOIN sh x ON x.id = c.id_a JOIN sh y ON y.id = c.id_b
    WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) >= 0.5""",
    ),
)
def verified_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end production near-dup composition: MinHash-LSH
    candidates (bucket equi-join) verified by exact Jaccard over ONLY the
    candidate pairs — never all pairs. Same planted drop-first-word base
    as minhash_near_dup_pairs."""
    d = _t(spark, sf_dir, "documents", rebalance=False).filter(
        F.col("doc_id") < 40
    )
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1, length(text))").alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(mutated)
    return dedup.verified_near_dup_pairs(both, num_hashes=8, bands=4, threshold=0.5)


_CLUSTERS_ORACLE = _MINHASH_ORACLE.replace(
    "WITH base AS", "WITH RECURSIVE base AS"
).replace(
    "SELECT DISTINCT a.id AS id_a, b.id AS id_b\n"
    "    FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id",
    """, cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM band a JOIN band b ON a.b = b.b AND a.key = b.key AND a.id < b.id),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM cand
      UNION SELECT id_b, id_a FROM cand),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
    comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
    SELECT b.id AS doc_id, coalesce(c.component, b.id)::BIGINT AS component
    FROM base b LEFT JOIN comp c ON b.id = c.id""",
)


@query("near_dup_clusters", _CLUSTERS_ORACLE)
def near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus dedup DECISION (dedup.near_dup_clusters): every document
    labeled with its near-dup cluster's canonical keep-id — MinHash-LSH
    candidate pairs → distributed min-label connected components →
    singletons label themselves. The oracle computes the same fixpoint
    with a recursive CTE (transitive min-label closure), so the iterative
    Spark loop is verified value-for-value, not just rows-only."""
    d = _t(spark, sf_dir, "documents", rebalance=False).filter(
        F.col("doc_id") < 40
    )
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1, length(text))").alias("text"),
    )
    both = d.select("doc_id", "text").unionByName(mutated)
    return dedup.near_dup_clusters(both, num_hashes=8, bands=4)


# the full modern curation cascade: 16-hash / 2-band (r=8) minhash →
# Jaccard-verified ≥0.8 pairs → connected components → keep-id decision,
# then language / quality / repetition gates, with per-source funnel
# accounting. SQL assembled from the already-validated fragment families.
_FUNNEL_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(sh, s -> md5('{h}:' || s)))" for h in range(16)
) + "]"
_FUNNEL_KEY_SQL = " || '|' || ".join(f"sg[8*b+{r+1}]" for r in range(8))
_FUNNEL_JACCARD_SQL = (
    "round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
    " / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6)"
)

_FUNNEL_ORACLE = rf"""
    WITH RECURSIVE all_docs AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, source FROM documents
      WHERE doc_id < 50),
    tok AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM all_docs),
    shg AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
            FROM tok WHERE len(tk) >= 3),
    sig AS (SELECT doc_id, {_FUNNEL_SIG_SQL} AS sg FROM shg),
    band AS (SELECT doc_id, b, {_FUNNEL_KEY_SQL} AS key
             FROM sig CROSS JOIN (SELECT UNNEST(range(0, 2)) AS b) u),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM band a JOIN band b
             ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
    ver AS (SELECT c.id_a, c.id_b
            FROM cand c JOIN shg x ON x.doc_id = c.id_a
                        JOIN shg y ON y.doc_id = c.id_b
            WHERE {_FUNNEL_JACCARD_SQL} >= 0.8),
    edges AS (SELECT id_a AS src, id_b AS dst FROM ver
              UNION SELECT id_b, id_a FROM ver),
    reach(id, label) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.id = e.src),
    comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
    units AS (
      SELECT doc_id, trim(un) AS unit
      FROM all_docs, unnest(string_split(text, ' ')) AS t(un)
      WHERE trim(un) <> ''),
    unit_counts AS (
      SELECT doc_id, unit, count(*) AS c FROM units GROUP BY doc_id, unit),
    rep AS (
      SELECT doc_id, round(1.0 - count(*) / sum(c), 6) AS dup_unit_frac
      FROM unit_counts GROUP BY doc_id),
    m AS (
      SELECT doc_id, source,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS words,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
             {_CURATE_HITS_SQL}, {_CURATE_BEST_SQL} AS best
      FROM all_docs),
    scored AS (
      SELECT m.source, m.doc_id, m.ws_tokens,
             {_CURATE_LANG_CASE} AS lang_pred,
             {_CURATE_QUALITY_SQL} AS quality,
             coalesce(c.component, m.doc_id) AS component,
             r.dup_unit_frac
      FROM m LEFT JOIN comp c ON m.doc_id = c.id
             JOIN rep r ON m.doc_id = r.doc_id),
    verdicts AS (
      SELECT source, ws_tokens,
             CASE WHEN component <> doc_id THEN 'near_dup'
                  WHEN lang_pred <> 'en' THEN 'lang'
                  WHEN quality < 0.8 THEN 'quality'
                  WHEN dup_unit_frac > 0.6 THEN 'repetition'
                  ELSE 'kept' END AS verdict
      FROM scored)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_input,
           CAST(sum(CASE WHEN verdict = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN verdict = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           CAST(sum(CASE WHEN verdict = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN verdict = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition,
           CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN verdict = 'kept' THEN ws_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM verdicts
    GROUP BY source
"""


@query("curation_funnel", _FUNNEL_ORACLE)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern curation cascade in ONE composed job — the
    RefinedWeb/Gopher-shaped pass a 100 TB pipeline runs end-to-end:
    Jaccard-verified (≥0.8) MinHash near-dup pairs at the r=8 production
    geometry → connected-components keep-id decision → language gate →
    quality gate → repetition gate, with disjoint per-source funnel
    accounting (every document lands in exactly one verdict bucket).
    Verified value-for-value against a DuckDB oracle that replays the
    identical cascade including the recursive-CTE component closure.

    ``kept_tokens`` uses the PORTABLE whitespace token count
    (textstats.token_count) — the cross-engine-checkable definition this
    oracle attests. When a real tokenizer is installed, final corpus
    accounting should use operators/tokenizers.exact_token_counts (true
    BPE counts) instead; the two definitions must never be mixed within
    one budget (see operators/tokenizers.py)."""
    d = _t(spark, sf_dir, "documents")
    all_docs = d.select("doc_id", "text", "source").unionByName(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source"
        )
    )
    pairs = dedup.verified_near_dup_pairs(
        all_docs, num_hashes=16, bands=2, threshold=0.8
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")
    rep = textstats.repetition_stats(all_docs, unit_sep=" ").select(
        "doc_id", "dup_unit_frac"
    )
    text = F.col("text")
    scored = (
        all_docs.select(
            "source",
            "doc_id",
            textstats.token_count(text).alias("ws_tokens"),
            textstats.lang_id(text).alias("lang_pred"),
            textstats.quality_score(text).alias("quality"),
        )
        .join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
        .join(rep, "doc_id")
    )
    verdict = (
        F.when(F.col("component") != F.col("doc_id"), F.lit("near_dup"))
        .when(F.col("lang_pred") != "en", F.lit("lang"))
        .when(F.col("quality") < 0.8, F.lit("quality"))
        .when(F.col("dup_unit_frac") > 0.6, F.lit("repetition"))
        .otherwise(F.lit("kept"))
    )
    flag = lambda v: F.sum(  # noqa: E731
        F.when(F.col("verdict") == v, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return (
        scored.withColumn("verdict", verdict)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_input"),
            flag("near_dup").alias("n_near_dup"),
            flag("lang").alias("n_lang"),
            flag("quality").alias("n_quality"),
            flag("repetition").alias("n_repetition"),
            flag("kept").alias("n_kept"),
            F.sum(
                F.when(F.col("verdict") == "kept", F.col("ws_tokens")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_tokens"),
        )
    )


def _simhash_oracle() -> str:
    votes = []
    for b in range(16):
        hexpos = b // 4 + 1
        div = 2 ** (b % 4)
        nib = f"(strpos('0123456789abcdef', substr(hh, {hexpos}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {div}.0) AS BIGINT) % 2)"
        votes.append(f"SUM({bit} * 2 - 1) AS v{b}")
    fp = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(16))
    return f"""
    WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
                 FROM documents WHERE doc_id < 100),
    h AS (SELECT doc_id, md5(tok) AS hh FROM tok),
    bits AS (SELECT doc_id, {", ".join(votes)} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


@query("simhash_fingerprints", _simhash_oracle())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (majority vote over token md5 bits)."""
    return dedup.simhash16(
        _t(spark, sf_dir, "documents", rebalance=False).filter(
            F.col("doc_id") < 100
        )
    )


@query(
    "jaccard_similarity_pairs",
    """
    WITH tok AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS tk
                 FROM documents WHERE doc_id < 30),
    sh AS (SELECT id,
                  list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
           FROM tok WHERE len(tk) >= 3)
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.id < b.id
    """,
)
def jaccard_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over all pairs of a small slice."""
    return dedup.jaccard_pairs(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    )


# ===========================================================================
# similarity search (embeddings)
# ===========================================================================

# scalar-list form (DuckDB range() cannot take lateral column params);
# list_sum folds left-to-right -> bit-identical to Spark's aggregate() fold
_COSINE_SQL = """
    round(list_sum(list_transform(range(1, len(qv) + 1),
                    i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                    i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))), 6)
"""


@query(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {_COSINE_SQL} AS score
          FROM q, c WHERE query_id <> neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rnk
          FROM s)
    SELECT query_id, neighbor_id, rnk, score FROM r WHERE rnk <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (ANN baseline); broadcast query side."""
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(e.filter(F.col("vec_id") < 5), e, k=5)
    return out.withColumnRenamed("rank", "rnk")


@query(
    "embedding_near_dups",
    f"""
    WITH base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
      UNION ALL
      SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10),
    a AS (SELECT vec_id AS id_a, embedding AS qv FROM base),
    b AS (SELECT vec_id AS id_b, embedding AS cv FROM base),
    s AS (SELECT id_a, id_b, {_COSINE_SQL} AS score
          FROM a, b WHERE id_a < id_b)
    SELECT id_a, id_b, score FROM s WHERE score >= 0.99
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (planted identical copies)."""
    e = _t(spark, sf_dir, "embeddings")
    base = (
        e.filter(F.col("vec_id") < 100)
        .select("vec_id", "embedding")
        .unionByName(
            e.filter(F.col("vec_id") < 10).select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
    )
    # embedding_near_dup_pairs aliases qv/cv internally as va/vb; inline here
    # to keep column naming aligned with the oracle
    return similarity.embedding_near_dup_pairs(base, threshold=0.99)


# ===========================================================================
# extraction engine (rows-only checks: regex lookaheads are outside RE2,
# so no SQL oracle — the byte-identical pytest oracle covers these)
# ===========================================================================


# The clean chain in portable SQL (reference: src/document_parser.py:380-400
# re-expressed; see operators/textclean.py for the Spark form). Built
# programmatically — hand-nesting 10 calls is how paren bugs happen.
def _clean_sql(raw: str) -> str:
    expr = f"coalesce({raw}, '')"
    for pat, rep in (
        (r"Page\s+\d+\s+of\s+\d+", ""),
        ("Confidential|Proprietary", ""),
        (r"\s+", " "),
    ):
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    for a, b in (("�", ""), ('""', '"'), ('""', '"'),
                 ("''", "'"), ("''", "'"), ("–", "-"), ("—", "-")):
        qa, qb = a.replace("'", "''"), b.replace("'", "''")
        expr = f"replace({expr}, '{qa}', '{qb}')"
    return f"trim({expr})"

_DOC_KIND_SQL = """
    CASE WHEN text IS NULL OR length(text) = 0 THEN 'empty'
         WHEN starts_with(text, '%PDF-') THEN 'pdf'
         WHEN regexp_matches(substr(text, 1, 1024),
              '(?i)<!doctype\\s+html|<html[\\s>]|<head[\\s>]|<body[\\s>]') THEN 'html'
         ELSE 'text' END
"""

def _doc_type_sql(col: str) -> str:
    return f"""
    CASE WHEN contains(lower({col}), 'invoice') THEN 'invoice'
         WHEN contains(lower({col}), 'receipt') THEN 'receipt'
         WHEN contains(lower({col}), 'contract') THEN 'contract'
         WHEN contains(lower({col}), 'contact:') THEN 'contact'
         ELSE 'general' END
"""


_DOC_TYPE_SQL = _doc_type_sql("cleaned")


@query(
    "extract_docs_as_pages",
    f"""
    WITH kinded AS (
      SELECT 'doc://' || doc_id AS url, text, {_DOC_KIND_SQL} AS doc_kind
      FROM documents),
    cleaned_t AS (
      SELECT url, doc_kind,
             {_clean_sql("CASE WHEN doc_kind = 'text' THEN text ELSE '' END")} AS cleaned
      FROM kinded)
    SELECT url, doc_kind, {_DOC_TYPE_SQL} AS document_type,
           CAST(length(cleaned) AS BIGINT) AS text_len,
           length(cleaned) > 0 AS success
    FROM cleaned_t
    """,
)
def extract_docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline over sf documents treated as text payloads.

    The projected columns (doc_kind sniff, heuristic type, cleaned length,
    success) are all RE2-expressible for TEXT payloads, so this query gets a
    real DuckDB oracle; the lookahead-bearing pattern/contact fields stay
    pytest-side (tests/test_extraction.py byte-parity, tests/
    test_golden_exports.py reference goldens). The oracle hard-codes the
    text-kind extraction identity (payload == text) — valid because the
    documents table is plain text; a pdf/html-sniffing row would mismatch
    loudly, not silently."""
    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    res = extract_pipeline(pages)
    return res.select(
        "url",
        "doc_kind",
        "document_type",
        F.col("features.text_length").alias("text_len"),
        "success",
    )


# Deterministic HTML template for the oracled html-kind rows: the <nav> and
# <footer> boilerplate is DROPPED by the extractor (subtree prune +
# link-density), the short <title> block falls under MIN_BLOCK_CHARS, and
# the single <p> block survives — so extracted_text == clean(text), which
# DuckDB can compute. Changing the template invalidates the oracle.
_SYN_HTML_PRE = (
    '<!-- synthetic -->&nbsp;<html><head><title>Syn Page</title></head><body>'
    '<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/c">Contact</a></nav>'
    "<p>"
)
_SYN_HTML_POST = (
    "</p><footer>Deterministic footer boilerplate for the synthetic page "
    "template with padding</footer></body></html>"
)


@query(
    "extract_synthetic_pages",
    f"""
    WITH based AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 2 = 0 THEN 'text' ELSE 'html' END AS kind
      FROM documents WHERE doc_id < 300),
    cleaned_t AS (
      SELECT 'syn://' || doc_id AS url, kind AS doc_kind,
             {_clean_sql("text")} AS cleaned
      FROM based)
    SELECT url, doc_kind, {_DOC_TYPE_SQL} AS document_type,
           md5(cleaned) AS text_md5,
           CAST(length(cleaned) AS BIGINT) AS text_len,
           length(cleaned) > 0 AS success
    FROM cleaned_t
    """,
)
def extract_synthetic_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline over synthetic pages, kind-partitioned so every emitted
    row has a DuckDB oracle: even doc_ids flow through the raw-text path,
    odd doc_ids are wrapped in the deterministic HTML template above and
    flow through the DOM boilerplate stripper — for both, the byte-exact
    expected extraction is ``clean(text)``, which the oracle hashes
    (per-url md5 = the north rule's byte-identical check inside the
    correctness gate). The PDF payload path is NOT SQL-expressible and
    stays pytest-side (tests/test_extraction.py byte-parity,
    tests/test_minipdf.py)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    html_payload = F.concat(
        F.lit(_SYN_HTML_PRE), F.col("text"), F.lit(_SYN_HTML_POST)
    )
    payload = F.when(F.col("doc_id") % 2 == 0, F.col("text")).otherwise(html_payload)
    pages = d.select(
        F.concat(F.lit("syn://"), F.col("doc_id")).alias("url"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(payload, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    res = extract_pipeline(pages)
    return res.select(
        "url",
        "doc_kind",
        "document_type",
        F.md5(F.encode("extracted_text", "UTF-8")).alias("text_md5"),
        F.col("features.text_length").alias("text_len"),
        "success",
    )


@query(
    "curated_extraction_stats",
    rf"""
    WITH based AS (
      SELECT 'syn://' || doc_id AS url,
             CASE WHEN doc_id % 2 = 0 THEN 'text' ELSE 'html' END AS kind,
             text
      FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT 'dup://' || doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'text' ELSE 'html' END,
             text
      FROM documents WHERE doc_id < 50),
    c AS (
      SELECT url, kind AS doc_kind, {_clean_sql("text")} AS text FROM based),
    m AS (
      SELECT url, doc_kind,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS words,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
             {_CURATE_HITS_SQL}, {_CURATE_BEST_SQL} AS best
      FROM c),
    scored AS (
      SELECT url, doc_kind, ws_tokens,
             {_CURATE_LANG_CASE} AS lang_pred,
             {_CURATE_QUALITY_SQL} AS quality,
             min(url) OVER (PARTITION BY digest) AS keep_url
      FROM m)
    SELECT doc_kind,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
           min(quality) AS min_quality,
           max(quality) AS max_quality
    FROM scored
    WHERE url = keep_url AND lang_pred = 'en' AND quality >= 0.8
    GROUP BY doc_kind
    """,
)
def curated_extraction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction → curation END-TO-END in one plan: pages (raw-text and
    HTML-template payloads, plus planted exact duplicates under dup://
    urls) flow through the full extract_pipeline, then the curation pass
    runs over ``extracted_text`` — exact dedup by normalized digest (window
    keep-min-url), language gate, quality gate, per-doc_kind accounting.
    The oracle is exact because extraction of both payload kinds is
    provably ``clean(text)`` (see extract_synthetic_pages); the curation
    SQL then mirrors curated_corpus_stats over that cleaned text. At scale
    this is the shape of a crawl→training-corpus job: one Arrow stage for
    extraction, then pure codegen + one digest shuffle for curation."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)

    def to_pages(df: DataFrame, scheme: str) -> DataFrame:
        payload = F.when(
            F.col("doc_id") % 2 == 0, F.col("text")
        ).otherwise(F.concat(F.lit(_SYN_HTML_PRE), F.col("text"), F.lit(_SYN_HTML_POST)))
        return df.select(
            F.concat(F.lit(scheme), F.col("doc_id")).alias("url"),
            F.lit("2024-03-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.encode(payload, "UTF-8").alias("html"),
            F.col("text"),
            F.col("lang"),
        )

    pages = to_pages(d, "syn://").unionByName(
        to_pages(d.filter(F.col("doc_id") < 50), "dup://")
    )
    res = extract_pipeline(pages)
    t = F.col("extracted_text")
    scored = res.select(
        "url",
        "doc_kind",
        textstats.token_count(t).alias("ws_tokens"),
        textstats.lang_id(t).alias("lang_pred"),
        textstats.quality_score(t).alias("quality"),
        dedup.normalized_digest(t).alias("digest"),
    ).withColumn("keep_url", F.min("url").over(Window.partitionBy("digest")))
    kept = scored.filter(
        (F.col("url") == F.col("keep_url"))
        & (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.8)
    )
    return kept.groupBy("doc_kind").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


# ===========================================================================
# O2 — text relevance search over an inverted token index
# ===========================================================================

from .operators.search import STOPWORDS as _QS_STOPWORDS  # noqa: E402

_QS_TERMS = ("spark", "hash", "shuffle")
_QS_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in _QS_STOPWORDS)


@query(
    "quick_search_top10",
    f"""
    WITH toks AS (
      SELECT 'doc://' || doc_id AS doc_id, t AS token
      FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
      WHERE length(t) > 0 AND t NOT IN ({_QS_STOPWORDS_SQL})),
    idx AS (
      SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY token, doc_id),
    m AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM idx WHERE token IN ({", ".join(f"'{t}'" for t in _QS_TERMS)})
      GROUP BY doc_id),
    r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM m)
    SELECT r.doc_id, {_doc_type_sql('d.text')} AS document_type,
           CASE WHEN length(d.text) > 100 THEN substr(d.text, 1, 100) || '...'
                ELSE d.text END AS text_snippet,
           r.score, r.n_terms_matched
    FROM r JOIN (SELECT 'doc://' || doc_id AS doc_id, text FROM documents) d
      USING (doc_id)
    WHERE rn <= 10
    """,
)
def quick_search_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — Mongo $text + textScore top-10 (reference:
    src/search_engine.py:365-410, text index :50-54) re-expressed as an
    inverted token-index posting table + tf scoring: explode→groupBy builds
    the index, the query's term filter prunes it, a broadcast joins the ten
    winners back for display fields. No substring scan of the corpus."""
    from .operators.kind import document_type_col
    from .operators.search import quick_search

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("text").alias("extracted_text"),
        document_type_col(F.col("text")).alias("document_type"),
    )
    return quick_search(d, " ".join(_QS_TERMS), limit=10)


# ===========================================================================
# widening coverage: supplier/part tables, rollup, distinct-agg, per-user
# rollups, deterministic sampling
# ===========================================================================


@query(
    "expensive_parts_by_brand",
    """
    SELECT p_brand,
           count(*) AS n_parts,
           round(avg(p_retailprice), 4) AS avg_price,
           max(p_size) AS max_size
    FROM part WHERE p_type LIKE '%MEDIUM%'
    GROUP BY p_brand
    """,
)
def expensive_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-table scan with LIKE predicate + agg."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type").like("%MEDIUM%"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
    )


@query(
    "supplier_nation_balance",
    """
    SELECT n_name,
           count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_balance
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def supplier_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-dim join (broadcast) + agg."""
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_balance"),
        )
    )


@query(
    "revenue_rollup",
    """
    SELECT r_name, n_name, count(*) AS n_customers
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (region → nation → grand total)."""
    r = F.broadcast(_t(spark, sf_dir, "region"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "distinct_parts_per_flag",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — expand/partial-agg plan under the hood."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )


@query(
    "user_activity_rollup",
    """
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def user_activity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — per-user usage counters recomputed from the events table."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@query(
    "deterministic_doc_sample",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE md5(text) < '20'
    """,
)
def deterministic_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash threshold sampling — the scale-friendly deterministic
    sampler (same rows regardless of partitioning/engine, ~1/8 rate for
    threshold '20'); the portable alternative to seeded rand() sampling."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.md5("text") < "20")
        .select("doc_id", "n_chars")
    )


# ===========================================================================
# LSH-bucketed approximate nearest neighbors (the 100 TB ANN path)
# ===========================================================================

# deterministic hyperplanes: plane[p][i] = (md5-free) fixed pseudo-random in
# [-1, 1] from a linear congruential sequence — identical literals on both
# engines, no runtime randomness
def _lcg_planes(n_planes: int, dim: int) -> list[list[float]]:
    planes = []
    state = 123456789
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            row.append(round(state / (2**31) * 2.0 - 1.0, 6))
        planes.append(row)
    return planes


_ANN_PLANES = _lcg_planes(4, 64)

# two independent 4-plane bands for the banded near-dup path (the LCG is a
# single stream: planes 0-3 == _ANN_PLANES, planes 4-7 are fresh)
_NEARDUP_BANDS = [_lcg_planes(8, 64)[:4], _lcg_planes(8, 64)[4:]]


def _plane_sql(vec: str, plane: list[float]) -> str:
    lits = ", ".join(f"CAST({w} AS DOUBLE)" for w in plane)
    return (
        f"(CASE WHEN list_sum(list_transform(range(1, len({vec}) + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ([{lits}])[i])) > 0 THEN 1 ELSE 0 END)"
    )


def _bucket_sql(vec: str, planes: list[list[float]] | None = None) -> str:
    terms = [
        f"{_plane_sql(vec, plane)} * {2 ** i}"
        for i, plane in enumerate(planes if planes is not None else _ANN_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "ann_lsh_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_bucket_sql('embedding')} AS bucket
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                 {_bucket_sql('embedding')} AS bucket
          FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {_COSINE_SQL} AS score
          FROM q JOIN c USING (bucket)
          WHERE query_id <> neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rnk
          FROM s)
    SELECT query_id, neighbor_id, rnk, score FROM r WHERE rnk <= 3
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-k: candidates share a sign
    sketch bucket (equi-join, no cross product) — the scale path where
    brute force would shuffle the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_cosine_topk(
        e.filter(F.col("vec_id") < 8), e, planes=_ANN_PLANES, k=3
    )
    return out.withColumnRenamed("rank", "rnk")


# deterministic IVF coarse quantizer: 8 centroids from the same LCG stream
# as the hyperplanes (rows 8-15, fresh values). In production these are the
# PERSISTED output of kmeans_dataflow.kmeans_lloyd, the remaining centroid
# source, pasted as literals — the catalog row proves the cell-assign/probe/
# rank plan cross-engine; the k-means training + recall sweep stay in
# tests/test_ivf_ann.py (not SQL-portable).
_IVF_CENTROIDS = _lcg_planes(16, 64)[8:]


def _ivf_l2_sql(vec: str, c: list[float]) -> str:
    lits = ", ".join(f"CAST({w} AS DOUBLE)" for w in c)
    return (
        f"list_sum(list_transform(range(1, len({vec}) + 1), "
        f"i -> (CAST({vec}[i] AS DOUBLE) - ([{lits}])[i]) "
        f"* (CAST({vec}[i] AS DOUBLE) - ([{lits}])[i])))"
    )


def _ivf_cells_sql(vec: str, n_probe: int) -> str:
    """n_probe nearest centroid ids by L2 — mirrors similarity._nearest_cells
    (left-to-right fold = F.aggregate; struct sort ties break on cell id)."""
    structs = ", ".join(
        f"{{'dist': {_ivf_l2_sql(vec, c)}, 'cell': {i}}}"
        for i, c in enumerate(_IVF_CENTROIDS)
    )
    return f"list_transform(list_sort([{structs}])[1:{n_probe}], s -> s.cell)"


@query(
    "ivf_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                      {_ivf_cells_sql('embedding', 2)} AS cells
               FROM embeddings WHERE vec_id < 8),
    qe AS (SELECT query_id, qv, u.cell FROM q, unnest(q.cells) AS u(cell)),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                 ({_ivf_cells_sql('embedding', 1)})[1] AS cell
          FROM embeddings),
    s AS (SELECT query_id, neighbor_id, {_COSINE_SQL} AS score
          FROM qe JOIN c USING (cell)
          WHERE query_id <> neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rnk
          FROM s)
    SELECT query_id, neighbor_id, rnk, score FROM r WHERE rnk <= 3
    """,
)
def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over persisted centroid literals: corpus rows bucket into
    their nearest cell, queries probe their 2 nearest cells, exact cosine
    ranks within the probed cells — cell equi-join, no cross product."""
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        e.filter(F.col("vec_id") < 8), e, _IVF_CENTROIDS, k=3, n_probe=2
    )
    return out.withColumnRenamed("rank", "rnk")


def _neardup_band_branch_sql(band: list[list[float]]) -> str:
    return f"""
      SELECT id_a, id_b, {_COSINE_SQL} AS score
      FROM (SELECT vec_id AS id_a, embedding AS qv,
                   {_bucket_sql('embedding', band)} AS bucket FROM nd_base) x
      JOIN (SELECT vec_id AS id_b, embedding AS cv,
                   {_bucket_sql('embedding', band)} AS bucket FROM nd_base) y
      USING (bucket)
      WHERE id_a < id_b"""


@query(
    "embedding_near_dups_banded",
    f"""
    WITH nd_base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
      UNION ALL
      SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10),
    s AS ({_neardup_band_branch_sql(_NEARDUP_BANDS[0])}
          UNION
          {_neardup_band_branch_sql(_NEARDUP_BANDS[1])})
    SELECT id_a, id_b, score FROM s WHERE score >= 0.99
    """,
)
def embedding_near_dups_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production embedding near-dup path: banded hyperplane-LSH candidate
    generation (per-band bucket equi-joins, pair surfaces if ALL signs agree
    in ≥1 band) + exact cosine threshold. Same planted-duplicate base as the
    all-pairs verification query — identical copies always agree in every
    band, so at this threshold the two queries return identical pairs while
    this plan has no cross product."""
    e = _t(spark, sf_dir, "embeddings", rebalance=False)
    base = (
        e.filter(F.col("vec_id") < 100)
        .select("vec_id", "embedding")
        .unionByName(
            e.filter(F.col("vec_id") < 10).select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
    )
    return similarity.embedding_near_dup_pairs_banded(
        base, threshold=0.99, plane_bands=_NEARDUP_BANDS
    )


# ===========================================================================
# explicit skew salting (J5) — two-phase aggregation over a skewed key
# ===========================================================================


@query(
    "host_url_stats_salted",
    """
    SELECT user_id AS hot_key,
           count(*) AS n,
           count(DISTINCT event_type) AS n_distinct
    FROM events GROUP BY user_id
    """,
)
def host_url_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — salted two-phase count + salted exact distinct-count per skewed
    key (events.user_id stands in for the hot host). The oracle is the
    plain single-phase form: results must be identical, only the plan
    shape differs (no hot-key reducer)."""
    from .operators import salting

    ev = _t(spark, sf_dir, "events").withColumnRenamed("user_id", "hot_key")
    counts = salting.salted_group_count(
        ev, "hot_key", salt_source="event_id", count_col="n", buckets=8
    )
    distincts = salting.salted_distinct_count(
        ev, "hot_key", "event_type", "n_distinct", buckets=8
    )
    return counts.join(distincts, "hot_key")


# ===========================================================================
# training-pipeline additions (round 4): benchmark decontamination +
# token-budget sampling
# ===========================================================================

# 8-word-shingle expression for the DuckDB side, generated (never
# hand-nested): tk[i] || ' ' || tk[i+1] || … || tk[i+7]
_NGRAM8_SQL = " || ' ' || ".join(
    "tk[i]" if j == 0 else f"tk[i+{j}]" for j in range(8)
)

_DECON_ORACLE = f"""
    WITH bench AS (
      SELECT doc_id AS bench_id,
             array_to_string(list_slice(string_split(lower(text), ' '), 1, 12), ' ')
               AS btext
      FROM documents WHERE doc_id < 3),
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT d.doc_id + 1000000,
             'planted prefix words here ' || b.btext || ' and trailing words after'
      FROM documents d JOIN bench b ON b.bench_id = d.doc_id
      WHERE d.doc_id < 3),
    btok AS (SELECT bench_id, string_split(lower(btext), ' ') AS tk FROM bench),
    bgrams AS (
      SELECT DISTINCT bench_id, {_NGRAM8_SQL} AS ngram
      FROM btok CROSS JOIN (SELECT UNNEST(range(1, 100)) AS i) ix
      WHERE i <= len(tk) - 7),
    ctok AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM corpus),
    cgrams AS (
      SELECT DISTINCT doc_id, {_NGRAM8_SQL} AS ngram
      FROM ctok CROSS JOIN (SELECT UNNEST(range(1, 4000)) AS i) ix
      WHERE i <= len(tk) - 7)
    SELECT c.doc_id,
           CAST(count(DISTINCT c.ngram) AS BIGINT) AS overlap_ngrams,
           CAST(count(DISTINCT g.bench_id) AS BIGINT) AS n_benchmarks
    FROM cgrams c JOIN bgrams g ON c.ngram = g.ngram
    GROUP BY c.doc_id HAVING count(DISTINCT c.ngram) >= 1
"""


@query("decontaminate_docs", _DECON_ORACLE)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): the
    12-word prefixes of the first 3 documents act as the eval benchmark;
    the corpus is all documents plus planted rows embedding each
    benchmark prefix mid-sentence. Per-doc overlap evidence (distinct
    8-gram collisions, distinct benchmark items hit) verified
    value-for-value — originals self-match, planted rows are caught, the
    rest of the corpus only appears where natural phrase reuse exists
    (identically in both engines)."""
    from .operators import decontaminate as dc

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(
            F.slice(F.split(F.lower("text"), " "), 1, 12), " "
        ).alias("btext"),
    )
    planted = bench.select(
        (F.col("bench_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("planted prefix words here "),
            F.col("btext"),
            F.lit(" and trailing words after"),
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    return dc.contamination_report(
        corpus, bench, bench_text_col="btext", n=8, min_hits=1
    )


@query(
    "dsir_importance_sample",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), t AS (SELECT * FROM toks WHERE token <> ''),
    raw_c AS (SELECT token, count(*)::DOUBLE AS c_raw FROM t GROUP BY token),
    tgt_c AS (SELECT token, count(*)::DOUBLE AS c_tgt
              FROM t WHERE doc_id % 7 < 2 GROUP BY token),
    vocab AS (
      SELECT coalesce(raw_c.token, tgt_c.token) AS token,
             coalesce(c_raw, 0) AS c_raw, coalesce(c_tgt, 0) AS c_tgt
      FROM raw_c FULL OUTER JOIN tgt_c ON raw_c.token = tgt_c.token),
    tot AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt,
                   count(*)::DOUBLE AS v FROM vocab),
    ratio AS (
      SELECT token,
             ln((c_tgt + 1) / (t_tgt + v)) - ln((c_raw + 1) / (t_raw + v))
               AS log_ratio
      FROM vocab, tot),
    w AS (
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
             sum(log_ratio) AS logw
      FROM t JOIN ratio USING (token) GROUP BY doc_id),
    keyed AS (
      SELECT doc_id, n_tokens, logw,
             logw - ln(-ln(
               power(16.0, -7)
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * power(16.0, -1)
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * power(16.0, -2)
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * power(16.0, -3)
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * power(16.0, -4)
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * power(16.0, -5)
               + (strpos('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * power(16.0, -6)
             )) AS sample_key
      FROM w)
    SELECT doc_id, n_tokens, round(logw, 5) AS logw_r,
           round(sample_key, 5) AS key_r
    FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 50
    """,
)
def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/dsir.py): documents whose
    source-id residue marks them target-domain train the target unigram
    LM, the whole corpus trains the raw LM, every document is scored by
    its summed add-1-smoothed log-likelihood ratio, and the kept set is
    the deterministic Gumbel-top-50 (hash-derived uniforms — the md5
    digit arithmetic is reproduced digit-for-digit in the oracle, so the
    SELECTION ITSELF is verified, not just the weights). Two engines
    must agree on vocab union, smoothing, totals, per-doc sums, the
    Gumbel transform, and the top-k cut."""
    from .operators import dsir

    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 7 < 2)
    weighted = dsir.importance_weights(docs, target)
    sample = dsir.importance_resample(weighted, 50)
    return sample.select(
        "doc_id",
        "n_tokens",
        F.round("logw", 5).alias("logw_r"),
        F.round("sample_key", 5).alias("key_r"),
    )


@query("decontaminate_docs_bloom", _DECON_ORACLE)
def decontaminate_docs_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-pre-filtered decontamination path (bloom_fpp): corpus
    grams that can't possibly collide with the benchmark are dropped
    MAP-SIDE against a broadcast bitmap before the exact join. A Bloom
    has no false negatives, so this must reproduce decontaminate_docs'
    oracle EXACTLY — same report, ~fpp of the join probe volume. This is
    the 10^5-10^6-item-benchmark scale shape (operators/decontaminate.py
    docstring); the shared oracle attests result-identity."""
    from .operators import decontaminate as dc

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(
            F.slice(F.split(F.lower("text"), " "), 1, 12), " "
        ).alias("btext"),
    )
    planted = bench.select(
        (F.col("bench_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("planted prefix words here "),
            F.col("btext"),
            F.lit(" and trailing words after"),
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(planted)
    return dc.contamination_report(
        corpus, bench, bench_text_col="btext", n=8, min_hits=1,
        bloom_fpp=0.001,
    )


@query(
    "token_budget_sample",
    """
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens
      FROM documents),
    c AS (
      SELECT source, doc_id, ws_tokens,
             CAST(sum(ws_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t)
    SELECT source, doc_id, ws_tokens, cum_tokens
    FROM c WHERE cum_tokens - ws_tokens < 900
    """,
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quota sampling (operators/sampling.py): a
    deterministic ~900-token sample per source — md5-hash order, running
    token sum, first straddler kept. The cumulative totals themselves are
    verified cross-engine, pinning the hash order AND the budget cut."""
    from .operators.sampling import sample_to_token_budget

    d = _t(spark, sf_dir, "documents")
    out = sample_to_token_budget(d, budget_tokens=900, group_col="source")
    return out.select(
        "source", "doc_id", "ws_tokens", F.col("cum_tokens").cast("long").alias("cum_tokens")
    )


@query(
    "docs_per_host_cap",
    """
    WITH hosted AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host, doc_id
      FROM documents),
    ranked AS (
      SELECT host, doc_id,
             row_number() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM hosted)
    SELECT host, doc_id FROM ranked WHERE rn <= 10
    """,
)
def docs_per_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host anti-domination cap (operators/sampling.cap_per_group):
    at most 10 docs per synthesized host, deterministic md5-hash
    selection — the exact kept set verified cross-engine."""
    from .operators.sampling import cap_per_group

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        "doc_id",
    )
    return cap_per_group(d, max_docs=10, group_col="host")


@query(
    "pii_redacted_docs",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             'contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com or call 555-01' || CAST(doc_id % 10 AS VARCHAR)
             || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
             || ' ssn 123-45-6789 end ' || text AS text
      FROM documents WHERE doc_id < 60)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '\d{3}-\d{2}-\d{4}', '[SSN]', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '(?:\+\d{1,3}[-.\s])?\(?\d{3}\)?[-.\s]\d{3}[-.\s]\d{4}', '[PHONE]', 'g')
             AS redacted,
           CAST(len(regexp_extract_all(text, '\d{3}-\d{2}-\d{4}')) AS BIGINT)
             AS n_ssn,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email
    FROM seeded
    """,
)
def pii_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/redact.py) over documents seeded with a
    deterministic email + phone + SSN preamble: full redacted text plus
    per-class counts verified value-for-value. The Spark side runs the
    PRODUCTION guarded patterns (Java lookarounds, O(n)-safe); the oracle
    runs the documented RE2-safe unguarded equivalents — identical output
    on whitespace-separated text, which this construction guarantees."""
    from .operators import redact

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    did = F.col("doc_id").cast("string")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), did, F.lit("@example.com or call 555-01"),
            (F.col("doc_id") % 10).cast("string"), F.lit("-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit(" ssn 123-45-6789 end "), F.col("text"),
        ).alias("text"),
    )
    ssn_rx, email_rx = redact.REDACTIONS[0][0], redact.REDACTIONS[1][0]
    return seeded.select(
        "doc_id",
        redact.redact_pii(F.col("text")).alias("redacted"),
        F.size(
            F.coalesce(F.regexp_extract_all("text", F.lit(ssn_rx), 0), F.array())
        ).cast("long").alias("n_ssn"),
        F.size(
            F.coalesce(F.regexp_extract_all("text", F.lit(email_rx), 0), F.array())
        ).cast("long").alias("n_email"),
    )


@query(
    "page_charset_decode",
    """
    WITH based AS (SELECT doc_id, text FROM documents WHERE doc_id < 240),
    expect AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'utf-8'
                             WHEN 1 THEN 'utf-16-le'
                             ELSE 'windows-1252' END AS charset,
             CASE doc_id % 4
               WHEN 0 THEN text
               WHEN 1 THEN text
               WHEN 2 THEN '<meta charset="iso-8859-1">' || text || ' café'
               ELSE text || ' café' END AS decoded
      FROM based)
    SELECT doc_id, charset, md5(decoded) AS text_md5,
           CAST(length(decoded) AS BIGINT) AS text_len
    FROM expect
    """,
)
def page_charset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-sniffing decode (operators/charset.py) verified value-for-value
    on a deterministic four-way encoding mix the oracle can reconstruct:
    plain UTF-8, UTF-16-LE with BOM (BOM stripped, text recovered), an
    in-document `<meta charset="iso-8859-1">` declaration over latin-1 bytes
    (label normalized to windows-1252 per WHATWG), and undeclared legacy
    bytes (0xE9) that fail the strict-UTF-8 probe and hit the 1252 fallback.
    The documents table is printable-ASCII, so the ' café' suffix is the
    only non-ASCII material and both engines agree byte-for-byte.
    Reference gap covered: src/document_parser.py:148-159 assumes platform
    UTF-8; crawl payloads lie about their encoding."""
    from .operators.extract_udfs import decode_page_udf

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    branch = F.col("doc_id") % 4
    payload = (
        F.when(branch == 0, F.encode(F.col("text"), "UTF-8"))
        .when(
            branch == 1,
            F.concat(F.lit(b"\xff\xfe"), F.encode(F.col("text"), "UTF-16LE")),
        )
        .when(
            branch == 2,
            F.encode(
                F.concat(
                    F.lit('<meta charset="iso-8859-1">'),
                    F.col("text"),
                    F.lit(" café"),
                ),
                "ISO-8859-1",
            ),
        )
        .otherwise(
            F.concat(
                F.encode(F.col("text"), "UTF-8"),
                F.encode(F.lit(" café"), "ISO-8859-1"),
            )
        )
    )
    decoded = d.select(
        "doc_id", decode_page_udf(payload).alias("d")
    )
    return decoded.select(
        "doc_id",
        F.col("d.charset").alias("charset"),
        F.md5(F.encode(F.col("d.text"), "UTF-8")).alias("text_md5"),
        F.length(F.col("d.text")).cast("long").alias("text_len"),
    )


# ===========================================================================
# link graph: outlink extraction + host PageRank (operators/links.py)
# ===========================================================================

# DuckDB-side copy of links.HREF_RE with the SQL single-quote doubling; both
# engines run the literally-same RE2-compatible pattern.
def _href_re_sql() -> str:
    from .operators.links import HREF_RE

    return HREF_RE.replace("'", "''")


# Deterministic synthetic page construction shared (by reconstruction) with
# the oracle: 4 resolvable link shapes + 1 dropped mailto per document.
def _synth_link_html(did: Column, src_host: Column) -> Column:
    return F.concat(
        F.lit('<html><body><a href="https://h'),
        ((did + 1) % 7).cast("string"),
        F.lit('.example/x/'),
        did.cast("string"),
        F.lit('">abs</a><A HREF=\'//cdn'),
        (did % 3).cast("string"),
        F.lit(".example/lib.js'>cdn</A>"),
        F.lit('<a href="/root/'),
        (did % 5).cast("string"),
        F.lit('">root</a><a href="rel'),
        (did % 4).cast("string"),
        F.lit('.html">rel</a><a href="mailto:x@y.z">m</a></body></html>'),
    )


@query(
    "page_outlinks",
    """
    WITH pages AS (
      SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/dir/p'
               || CAST(doc_id AS VARCHAR) || '.html' AS url,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS src_host,
             '<html><body><a href="https://h' || CAST((doc_id + 1) % 7 AS VARCHAR)
               || '.example/x/' || CAST(doc_id AS VARCHAR)
               || '">abs</a><A HREF=''//cdn' || CAST(doc_id % 3 AS VARCHAR)
               || '.example/lib.js''>cdn</A><a href="/root/'
               || CAST(doc_id % 5 AS VARCHAR) || '">root</a><a href="rel'
               || CAST(doc_id % 4 AS VARCHAR)
               || '.html">rel</a><a href="mailto:x@y.z">m</a></body></html>'
               AS html
      FROM documents WHERE doc_id < 160),
    targets AS (
      SELECT url, src_host,
             unnest(regexp_extract_all(html, '{HREF_RE}', 1)) AS target
      FROM pages),
    resolved AS (
      SELECT url,
             CASE WHEN lower(target) LIKE 'http://%'
                       OR lower(target) LIKE 'https://%' THEN target
                  WHEN target LIKE '//%' THEN 'https:' || target
                  WHEN target LIKE '/%' THEN 'https://' || src_host || target
                  WHEN regexp_matches(target, '^[A-Za-z][A-Za-z0-9+.-]*:')
                       THEN NULL
                  ELSE 'https://' || src_host || '/dir/' || target END
               AS outlink
      FROM targets)
    SELECT url, outlink FROM resolved WHERE outlink IS NOT NULL
    """,
)
def page_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (operators/links.py) over deterministic synthetic
    pages the oracle reconstructs: both engines run the LITERAL same
    (?i) href pattern (Java regex vs RE2) and the same prefix-shaped
    resolution rules — absolute kept, scheme-relative gets the base scheme,
    root-relative gets scheme://host, plain relative joins the base
    directory, mailto: dropped. Cross-engine regex parity is the point:
    a Java-only construct in HREF_RE would fail this row loudly."""
    from .operators.links import extract_outlinks

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 160)
    did = F.col("doc_id")
    src_host = F.concat(
        F.lit("h"), (did % 7).cast("string"), F.lit(".example")
    )
    pages = d.select(
        F.concat(
            F.lit("https://"),
            src_host,
            F.lit("/dir/p"),
            did.cast("string"),
            F.lit(".html"),
        ).alias("url"),
        _synth_link_html(did, src_host).alias("html_text"),
    )
    return extract_outlinks(pages)


def _pagerank_oracle(edges_cte: str, iters: int, damping: float) -> str:
    """Unrolled-CTE DuckDB PageRank with the documented semantics (weighted
    edges, dangling mass uniform, synchronous damped updates). Unrolling
    sidesteps recursive-CTE aggregation restrictions and keeps every
    iteration independently inspectable."""
    parts = [
        f"WITH {edges_cte},",
        "outw AS (SELECT src_host, CAST(sum(n_links) AS DOUBLE) AS out_weight"
        " FROM edges GROUP BY src_host),",
        "nodes AS (SELECT DISTINCT host FROM (SELECT src_host AS host"
        " FROM edges UNION ALL SELECT dst_host FROM edges)),",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),",
        "r0 AS (SELECT host, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),",
    ]
    for i in range(iters):
        prev = f"r{i}"
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r.rank), 0.0) AS dm FROM {prev} r"
            " LEFT JOIN outw o ON r.host = o.src_host"
            " WHERE o.src_host IS NULL),"
        )
        parts.append(
            f"c{i} AS (SELECT e.dst_host AS host,"
            " sum(r.rank * e.n_links / o.out_weight) AS in_mass"
            f" FROM {prev} r JOIN edges e ON r.host = e.src_host"
            " JOIN outw o ON o.src_host = e.src_host GROUP BY e.dst_host),"
        )
        parts.append(
            f"r{i + 1} AS (SELECT n.host,"
            f" (1 - {damping}) / (SELECT n FROM nn) + {damping} *"
            f" (coalesce(c.in_mass, 0.0) + (SELECT dm FROM d{i}) /"
            f" (SELECT n FROM nn)) AS rank"
            f" FROM nodes n LEFT JOIN c{i} c ON n.host = c.host),"
        )
    parts.append(
        f"final AS (SELECT host, rank FROM r{iters})"
        " SELECT host, round(rank, 7) AS pr_r FROM final"
    )
    return "\n".join(parts)


_PR_EDGES_CTE = """edges AS (
  SELECT 'h' || CAST(doc_id % 12 AS VARCHAR) AS src_host,
         'h' || CAST((doc_id * 5 + 3) % 14 AS VARCHAR) AS dst_host,
         CAST(sum(doc_id % 3 + 1) AS BIGINT) AS n_links
  FROM documents
  WHERE doc_id < 200
    AND 'h' || CAST(doc_id % 12 AS VARCHAR)
        <> 'h' || CAST((doc_id * 5 + 3) % 14 AS VARCHAR)
  GROUP BY 1, 2)"""


@query("host_pagerank", None)  # oracle attached below (generated SQL)
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (operators/links.py) on a deterministic host
    graph derived from doc_id arithmetic — hosts h12/h13 appear only as
    targets (dangling), several hosts have no in-links, weights vary.
    3 synchronous iterations, damping 0.85; the oracle is the SAME algebra
    unrolled as chained DuckDB CTEs, matched to 7 decimals (double-sum
    ordering differs across engines below ~1e-14 — far inside the round).
    Independent NumPy power-iteration parity is pinned in
    tests/test_links.py."""
    from .operators.links import pagerank

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    src = F.concat(F.lit("h"), (did % 12).cast("string"))
    dst = F.concat(F.lit("h"), ((did * 5 + 3) % 14).cast("string"))
    edges = (
        d.select(src.alias("src_host"), dst.alias("dst_host"), did)
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.sum(F.col("doc_id") % 3 + 1).alias("n_links"))
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select("host", F.round("pagerank", 7).alias("pr_r"))


ORACLES["host_pagerank"] = _pagerank_oracle(_PR_EDGES_CTE, 3, 0.85)
# splice the literal shared pattern into the page_outlinks oracle (the SQL
# is not an f-string, so the placeholder survives to here)
ORACLES["page_outlinks"] = ORACLES["page_outlinks"].replace(
    "{HREF_RE}", _href_re_sql()
)


@query(
    "warc_roundtrip",
    """
    WITH based AS (SELECT doc_id, text FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           'https://w' || CAST(doc_id % 9 AS VARCHAR) || '.example/p'
             || CAST(doc_id AS VARCHAR) AS url,
           CAST('2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                || ' 12:00:00' AS TIMESTAMP) AS warc_ts,
           md5(text) AS body_md5,
           'text/html' AS content_type
    FROM based
    """,
)
def warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC framing roundtrip, cross-engine: Spark builds VALID WARC/1.0
    response records natively (headers, ISO WARC-Date, HTTP envelope, both
    Content-Length fields computed with F.length — the documents table is
    ASCII so char length == byte length), then the warc.py parser
    (parse_warc_record_udf → iter_warc_records → split_http_response)
    recovers url / timestamp / body, and the oracle reconstructs the
    expected values arithmetically. A framing bug anywhere in the parser
    (offset math, CRLF handling, header folding, date parse) mismatches
    this row. File-level ingest of the same parser: tests/test_warc.py."""
    from .warc import parse_warc_record_udf

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://w"), (did % 9).cast("string"), F.lit(".example/p"),
        did.cast("string"),
    )
    day = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    warc_date = F.concat(F.lit("2024-03-"), day, F.lit("T12:00:00Z"))
    body_len = F.length("text").cast("string")
    http_pre = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
        body_len,
        F.lit("\r\n\r\n"),
    )
    http_len = (F.length(http_pre) + F.length("text")).cast("string")
    warc_bytes = F.encode(
        F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
            url,
            F.lit("\r\nWARC-Date: "),
            warc_date,
            F.lit(
                "\r\nWARC-Record-ID: <urn:uuid:0>\r\n"
                "Content-Type: application/http; msgtype=response\r\n"
                "Content-Length: "
            ),
            http_len,
            F.lit("\r\n\r\n"),
            http_pre,
            F.col("text"),
            F.lit("\r\n\r\n"),
        ),
        "UTF-8",
    )
    parsed = d.select("doc_id", parse_warc_record_udf(warc_bytes).alias("p"))
    return parsed.select(
        "doc_id",
        F.col("p.url").alias("url"),
        F.col("p.warc_ts").alias("warc_ts"),
        F.md5(F.col("p.html")).alias("body_md5"),
        F.col("p.content_type").alias("content_type"),
    )


# ===========================================================================
# registrable domain (PSL longest-match) / crawl-snapshot dedup / shards
# ===========================================================================

from .operators.urls import PUBLIC_SUFFIXES_MIN as _PSL  # noqa: E402

_PSL_VALUES = ", ".join(
    f"('{s}', {len(s.split('.'))})" for s in _PSL
)

ORACLES["registrable_domains"] = f"""
    WITH hosts AS (
      SELECT doc_id,
        CASE doc_id % 8
          WHEN 0 THEN 'www.' || source || '.example.com'
          WHEN 1 THEN source || '.github.io'
          WHEN 2 THEN 'a.b.' || source || '.github.io'
          WHEN 3 THEN source || '.co.uk'
          WHEN 4 THEN 'blog.' || source || '.co.uk'
          WHEN 5 THEN source || '.internal'
          WHEN 6 THEN 'github.io'
          ELSE 'localhost' END AS host
      FROM documents
    ), sfx(s, n) AS (
      VALUES {_PSL_VALUES}
    ), m AS (
      SELECT h.doc_id, h.host, coalesce(max(sfx.n), 1) AS sn
      FROM hosts h LEFT JOIN sfx
        ON (h.host = sfx.s OR h.host LIKE '%.' || sfx.s)
      GROUP BY h.doc_id, h.host
    )
    SELECT doc_id, host,
      CASE WHEN len(string_split(host, '.')) > sn
           THEN array_to_string(
                  list_slice(string_split(host, '.'),
                             len(string_split(host, '.')) - sn,
                             len(string_split(host, '.'))), '.')
      END AS registrable_domain
    FROM m
"""


@query("registrable_domains")
def registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSL registrable-domain extraction, cross-engine: hosts are built
    over every interesting shape (known 1- and 2-label suffixes, the
    github.io private-suffix rule beating 'io', multi-level subdomains,
    unknown TLDs hitting the PSL default '*' rule, a host that IS a
    public suffix, and a single bare label — the last two must yield
    NULL). The engine's suffix-explode + broadcast join + longest-rule
    max (operators/urls.py:with_registrable_domain) must agree
    row-for-row with the oracle's literal suffix-LIKE longest match over
    the same embedded suffix VALUES."""
    from .operators.urls import with_registrable_domain

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = F.col("source")
    host = (
        F.when(did % 8 == 0, F.concat(F.lit("www."), src, F.lit(".example.com")))
        .when(did % 8 == 1, F.concat(src, F.lit(".github.io")))
        .when(did % 8 == 2, F.concat(F.lit("a.b."), src, F.lit(".github.io")))
        .when(did % 8 == 3, F.concat(src, F.lit(".co.uk")))
        .when(did % 8 == 4, F.concat(F.lit("blog."), src, F.lit(".co.uk")))
        .when(did % 8 == 5, F.concat(src, F.lit(".internal")))
        .when(did % 8 == 6, F.lit("github.io"))
        .otherwise(F.lit("localhost"))
    )
    return with_registrable_domain(
        d.select("doc_id", host.alias("host"))
    ).select("doc_id", "host", "registrable_domain")


@query(
    "latest_capture_per_url",
    """
    WITH caps AS (
      SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL (doc_id % 5) DAY + INTERVAL (k.k) HOUR AS warc_ts
      FROM documents, (SELECT unnest(generate_series(0, 2)) AS k) k
      WHERE k.k <= doc_id % 3
    ), ranked AS (
      SELECT url, warc_ts,
             row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn,
             count(*) OVER (PARTITION BY url) AS n_captures
      FROM caps
    )
    SELECT url, strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS kept_ts,
           CAST(n_captures AS BIGINT) AS n_captures
    FROM ranked WHERE rn = 1
    """,
)
def latest_capture_per_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot dedup (keep the newest capture per url, CCNet /
    RefinedWeb convention): each document becomes 1-3 captures at
    distinct hour offsets; dedup.latest_captures' single-window plan must
    keep exactly the max-timestamp row and report the collapsed capture
    count, row-for-row vs the oracle's window."""
    from .operators.dedup import latest_captures

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    caps = (
        d.select(
            F.concat(F.lit("doc://"), did.cast("string")).alias("url"),
            (did % 3).alias("_max_k"),
            (did % 5).alias("_day"),
        )
        .withColumn("_k", F.explode(F.sequence(F.lit(0), F.col("_max_k"))))
        .select(
            "url",
            F.expr(
                "timestampadd(HOUR, _k, timestampadd(DAY, _day, "
                "timestamp '2024-01-01 00:00:00'))"
            ).alias("warc_ts"),
        )
    )
    kept = latest_captures(caps, id_col="url", ts_col="warc_ts")
    return kept.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("kept_ts"),
        "n_captures",
    )


@query(
    "token_shard_stats",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord
      FROM documents
    ), c AS (
      SELECT doc_id, ws_tokens,
             sum(ws_tokens) OVER (ORDER BY ord, CAST(doc_id AS VARCHAR)
                                  ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT CAST(floor((cum - ws_tokens) / 5000.0) AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS shard_ws_tokens
    FROM c GROUP BY 1
    """,
)
def token_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export sharding: every document assigned to a
    ~5000-token shard in deterministic md5(id) order. The engine computes
    the EXACT global running sum with NO single-partition window
    (256-bucket two-pass, sampling.assign_token_shards); the oracle
    computes the same running sum as one global SQL window — per-shard
    doc and token counts must match exactly, proving offset + local sum
    == global sum."""
    from .operators.sampling import assign_token_shards

    d = _t(spark, sf_dir, "documents")
    sharded = assign_token_shards(
        d, shard_tokens=5000, id_col="doc_id", text_col="text"
    )
    return sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("shard_ws_tokens"),
    )


@query(
    "c4_clean_docs",
    r"""
    WITH built AS (
      SELECT doc_id,
        substr(text, 1, 80) || '.'
        || CASE WHEN doc_id % 5 = 0
                THEN chr(10) || 'This extra sentence stays here.' ELSE '' END
        || CASE doc_id % 4
             WHEN 1 THEN chr(10) || 'Enable javascript to view this page.'
             WHEN 2 THEN chr(10) || 'Short line'
             WHEN 3 THEN chr(10) || 'click here'
             ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN chr(10) || 'But lorem ipsum dolor sit amet.' ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN chr(10) || 'function() { return 1; } done.' ELSE '' END
        || CASE WHEN doc_id % 13 = 0
                THEN chr(10) || 'casino nights draw large crowds.' ELSE '' END
          AS t
      FROM documents
    ), lines AS (
      SELECT doc_id, t,
             list_filter(string_split(t, chr(10)), x -> x <> '') AS ls
      FROM built
    ), kept AS (
      SELECT doc_id, t, ls,
        list_filter(ls, x ->
          (ends_with(trim(x), '.') OR ends_with(trim(x), '!')
           OR ends_with(trim(x), '?') OR ends_with(trim(x), chr(34)))
          AND len(list_filter(string_split_regex(x, '\s+'), y -> y <> '')) >= 3
          AND NOT contains(lower(x), 'javascript')) AS ks
      FROM lines
    ), final AS (
      SELECT doc_id,
        array_to_string(ks, chr(10)) AS clean_text,
        CAST(len(ls) AS BIGINT) AS n_lines,
        CAST(len(ks) AS BIGINT) AS n_kept,
        contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
        contains(t, '{') AS has_brace,
        list_has_any(
          list_filter(string_split_regex(lower(t), '\s+'), y -> y <> ''),
          ['viagra', 'casino', 'bet365']) AS has_blocked_word,
        CAST(len(regexp_extract_all(array_to_string(ks, chr(10)), '[.!?]'))
             AS BIGINT) AS n_sentences
      FROM kept
    )
    SELECT doc_id, md5(clean_text) AS clean_md5, n_lines, n_kept,
           has_lorem_ipsum, has_brace, has_blocked_word, n_sentences,
           (NOT has_lorem_ipsum AND NOT has_brace AND NOT has_blocked_word
            AND n_sentences >= 2) AS passes
    FROM final
    """,
)
def c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rule set (Raffel et al. 2020), cross-engine: every rule is
    exercised — terminal-punctuation line drops, short-line drops,
    javascript-line drops, a kept second sentence, lorem-ipsum / brace /
    blocked-word page vetoes, and the post-filter sentence minimum
    (min_sentences=2 so both verdict polarities occur). The engine's
    native HOF algebra (operators/c4.py) must match the oracle's DuckDB
    list-lambda restatement value-for-value, md5 of the REWRITTEN text
    included."""
    from .operators.c4 import c4_clean

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t2 = F.concat(
        F.substring("text", 1, 80), F.lit("."),
        F.when(did % 5 == 0, F.concat(nl, F.lit("This extra sentence stays here.")))
         .otherwise(F.lit("")),
        F.when(did % 4 == 1, F.concat(nl, F.lit("Enable javascript to view this page.")))
         .when(did % 4 == 2, F.concat(nl, F.lit("Short line")))
         .when(did % 4 == 3, F.concat(nl, F.lit("click here")))
         .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(nl, F.lit("But lorem ipsum dolor sit amet.")))
         .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(nl, F.lit("function() { return 1; } done.")))
         .otherwise(F.lit("")),
        F.when(did % 13 == 0, F.concat(nl, F.lit("casino nights draw large crowds.")))
         .otherwise(F.lit("")),
    )
    cleaned = c4_clean(
        d.select("doc_id", t2.alias("text")), min_sentences=2
    )
    return cleaned.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines", "n_kept", "has_lorem_ipsum", "has_brace",
        "has_blocked_word", "n_sentences", "passes",
    )


@query(
    "domain_token_share",
    """
    WITH hosts AS (
      SELECT doc_id, text, source,
        CASE doc_id % 4
          WHEN 0 THEN 'www.' || source || '.example.com'
          WHEN 1 THEN source || '.github.io'
          WHEN 2 THEN 'blog.' || source || '.co.uk'
          ELSE 'cdn.' || source || '.example.com' END AS host
      FROM documents
    ), toks AS (
      SELECT doc_id, host,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
        CASE doc_id % 4
          WHEN 1 THEN source || '.github.io'
          WHEN 2 THEN source || '.co.uk'
          ELSE 'example.com' END AS dom
      FROM hosts
    ), agg AS (
      SELECT dom AS registrable_domain,
             count(*) AS n_docs,
             CAST(sum(ws_tokens) AS BIGINT) AS tokens
      FROM toks GROUP BY 1
    )
    SELECT registrable_domain, n_docs, tokens,
           round(tokens / CAST(sum(tokens) OVER () AS DOUBLE), 6) AS token_share
    FROM agg
    """,
)
def domain_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix accounting at the SITE level — the question every
    training-data report answers ('how much of the corpus is one
    domain?'). Composes with_registrable_domain (PSL longest-match) with
    whitespace token counts: per registrable domain, doc count, token
    count, and share of the corpus. The oracle derives the same domains
    arithmetically (the host shapes make the PSL answer closed-form), so
    a grouping-key bug in the PSL path shows up as a share mismatch."""
    from .operators.textstats import token_count
    from .operators.urls import with_registrable_domain

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = F.col("source")
    host = (
        F.when(did % 4 == 0, F.concat(F.lit("www."), src, F.lit(".example.com")))
        .when(did % 4 == 1, F.concat(src, F.lit(".github.io")))
        .when(did % 4 == 2, F.concat(F.lit("blog."), src, F.lit(".co.uk")))
        .otherwise(F.concat(F.lit("cdn."), src, F.lit(".example.com")))
    )
    marked = with_registrable_domain(
        d.select("doc_id", host.alias("host"), token_count(F.col("text")).alias("ws_tokens"))
    )
    agg = marked.groupBy("registrable_domain").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("tokens"),
    )
    total = Window.partitionBy()
    return agg.select(
        "registrable_domain", "n_docs", "tokens",
        F.round(
            F.col("tokens").cast("double") / F.sum("tokens").over(total), 6
        ).alias("token_share"),
    )


@query(
    "boilerplate_line_strip",
    r"""
    WITH built AS (
      SELECT doc_id, source,
        text
        || chr(10) || 'subscribe to our newsletter today'
        || CASE WHEN doc_id % 2 = 0
                THEN chr(10) || 'visit our site now' ELSE '' END
        || CASE WHEN doc_id % 50 = 0
                THEN chr(10) || 'rare footer line here' ELSE '' END AS t
      FROM documents
    ),
    lists AS (
      SELECT doc_id, source, string_split(t, chr(10)) AS l FROM built
    ),
    lines AS (
      SELECT doc_id, source, i, trim(l[i]) AS line
      FROM lists, unnest(range(1, len(l) + 1)) AS u(i)
      WHERE trim(l[i]) <> ''
    ),
    freq AS (
      SELECT source, line
      FROM (SELECT source, line, count(DISTINCT doc_id) AS d
            FROM lines GROUP BY source, line)
      WHERE d >= 5
    ),
    marked AS (
      SELECT l.doc_id, l.i, l.line, (f.line IS NOT NULL) AS boiler
      FROM lines l LEFT JOIN freq f
        ON l.source = f.source AND l.line = f.line
    )
    SELECT doc_id,
           md5(coalesce(string_agg(line, chr(10) ORDER BY i)
                        FILTER (WHERE NOT boiler), '')) AS clean_md5,
           count(*)::BIGINT AS n_lines,
           count(*) FILTER (WHERE boiler)::BIGINT AS n_removed
    FROM marked GROUP BY doc_id
    """,
)
def boilerplate_line_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host frequent-line boilerplate removal (CCNet/DataTrove
    convention), cross-engine: every document in a source ('host' scope)
    gets a newsletter line (frequency = group size >= 5 -> removed
    everywhere), half get a second chrome line (also above threshold),
    2% get a rare footer (below threshold -> kept), and the original
    text is a unique line (kept). dedup.strip_frequent_lines' explode ->
    distinct-doc count -> join-back -> reassembly must match the
    oracle's window restatement value-for-value, md5 of the rewritten
    text included."""
    from .operators.dedup import strip_frequent_lines

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nl = F.lit("\n")
    t2 = F.concat(
        F.col("text"),
        nl, F.lit("subscribe to our newsletter today"),
        F.when(did % 2 == 0, F.concat(nl, F.lit("visit our site now")))
         .otherwise(F.lit("")),
        F.when(did % 50 == 0, F.concat(nl, F.lit("rare footer line here")))
         .otherwise(F.lit("")),
    )
    out = strip_frequent_lines(
        d.select("doc_id", "source", t2.alias("text")),
        min_docs=5,
        scope_col="source",
    )
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_lines",
        "n_removed",
    )


_DHASH_BASES = (
    81985529216486895,    # 0x0123456789ABCDEF
    4541127079495589729,  # distinct bit patterns, all < 2^62 so both
    2865503692262871909,  # engines stay in positive BIGINT territory
    1311768467463790320,
)
_DHASH_BASE_SQL = " ".join(
    f"WHEN {g} THEN CAST({b} AS BIGINT)" for g, b in enumerate(_DHASH_BASES)
)


@query(
    "dhash_hamming_pairs",
    f"""
    WITH hashes AS (
      SELECT 'img://' || CAST(doc_id AS VARCHAR) AS url,
             xor(CASE doc_id % 4 {_DHASH_BASE_SQL} END,
                 CASE WHEN doc_id % 3 = 0
                      THEN (CAST(1 AS BIGINT) << (doc_id % 60))
                      ELSE 0 END) AS dhash
      FROM documents WHERE doc_id < 120
    )
    SELECT a.url AS id_a, b.url AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
    FROM hashes a JOIN hashes b ON a.url < b.url
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
)
def dhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup matching, banded-vs-exhaustive: the
    oracle enumerates ALL pairs within Hamming distance 3 by quadratic
    cross join (ground truth); the engine's 4x16-bit band equi-join
    (operators/multimodal.py:dhash_near_dup_pairs) must return the
    IDENTICAL pair set — the pigeonhole completeness guarantee (<=3
    differing bits cannot touch all 4 bands) verified value-for-value,
    with no cross product in the engine plan."""
    from .operators.multimodal import dhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    did = F.col("doc_id")
    base = F.when(did % 4 == 0, F.lit(_DHASH_BASES[0]).cast("long"))
    for g in (1, 2, 3):
        base = base.when(did % 4 == g, F.lit(_DHASH_BASES[g]).cast("long"))
    perturb = F.when(
        did % 3 == 0,
        F.expr("shiftleft(cast(1 as bigint), cast(doc_id % 60 as int))"),
    ).otherwise(F.lit(0).cast("long"))
    hashes = d.select(
        F.concat(F.lit("img://"), did.cast("string")).alias("url"),
        base.bitwiseXOR(perturb).alias("dhash"),
    )
    return dhash_near_dup_pairs(hashes)


@query(
    "duplicate_ngram_fraction",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM all_docs
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      FROM tok WHERE len(tk) >= 3
    ),
    cnt AS (SELECT s, count(*) AS docs FROM sh GROUP BY s),
    per AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS dup_grams
      FROM sh JOIN cnt USING (s) GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(dup_grams, 0) AS BIGINT) AS dup_grams,
           round(coalesce(dup_grams, 0)
                 / CAST(greatest(coalesce(n_grams, 0), 1) AS DOUBLE), 6)
             AS dup_frac
    FROM all_docs a LEFT JOIN per USING (doc_id)
    """,
)
def duplicate_ngram_fraction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication signal over the planted-duplicate
    corpus: every cloned document (and its original) must report
    dup_frac 1.0, unique documents whatever natural 3-gram overlap the
    corpus has — value-for-value vs the oracle's gram-string restatement
    (the engine keys on md5 digests; identical counts prove digesting
    introduced no collisions at this scale)."""
    return dedup.duplicate_ngram_fraction(_docs_with_exact_dups(spark, sf_dir))


@query(
    "user_sessions",
    """
    WITH lagd AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 172800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM lagd
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
             AS duration_secs
    FROM sess GROUP BY user_id, session_no
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (W-family window composition): 2-day gap
    over the events table so sessions span 1..n events; the engine's
    lag + running-sum single-Exchange plan (operators/sessions.py) must
    produce identical (user, session) aggregates to the oracle's WINDOW
    restatement — start timestamps, counts, and durations all hashed."""
    from .operators.sessions import session_stats

    e = _t(spark, sf_dir, "events")
    return session_stats(
        e, user_col="user_id", ts_col="ts",
        gap_minutes=2880, tiebreak_col="event_id",
    )


@query(
    "anchor_text_stats",
    """
    WITH expected AS (
      SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS dst_host,
             'read more' AS anchor
      FROM documents
      UNION ALL
      SELECT 'w' || CAST(doc_id % 3 AS VARCHAR) || '.site', 'local guide'
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 'w0.site', 'anchor with fragment'
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT dst_host, anchor, count(*) AS n
    FROM expected GROUP BY dst_host, anchor
    """,
)
def anchor_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus aggregation, regex-vs-arithmetic: pages are
    built with absolute anchors, root-relative anchors (whitespace-mess
    inner text exercising normalization), fragment-bearing relative
    anchors, and a nested-markup anchor that must NOT match (the
    documented plain-text-only contract). The engine's one-pattern
    two-group zip + resolution + host aggregation
    (operators/links.py:extract_anchor_texts) must reproduce the
    oracle's closed-form expected counts exactly."""
    from .operators.links import extract_anchor_texts
    from .operators.urls import host_of

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page_url = F.concat(
        F.lit("https://w"), (did % 3).cast("string"), F.lit(".site/a/b")
    )
    html = F.concat(
        F.lit('<p>intro</p><a class="l" href="https://h'),
        (did % 7).cast("string"),
        F.lit('.example/p/'), did.cast("string"),
        F.lit('">Read More</a>'),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<a href="/docs/'), (did % 5).cast("string"),
                F.lit('"> Local  Guide </a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.lit('<a href="page#sec">Anchor With Fragment</a>'),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.lit('<a href="https://skip.me/x"><b>Bold</b></a>'),
        ).otherwise(F.lit("")),
    )
    # extract_anchor_texts takes a DECODED string column (same contract as
    # extract_outlinks); binary payloads go through charset.decode_payload
    pages = d.select(page_url.alias("url"), html.alias("html"))
    anchors = extract_anchor_texts(pages)
    return (
        anchors.select(
            host_of(F.col("target_url")).alias("dst_host"), "anchor"
        )
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").alias("n"))
    )


@query(
    "fetch_wave_schedule",
    """
    WITH f AS (
      SELECT source || '.example' AS host,
             'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR)
               AS url
      FROM documents
    ), d AS (
      SELECT DISTINCT source || '.example' AS host,
             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                  THEN 7 ELSE 1 END AS delay_secs
      FROM documents
    ), ranked AS (
      SELECT f.url, f.host, d.delay_secs,
             row_number() OVER (PARTITION BY f.host
                                ORDER BY md5(f.url), f.url) - 1 AS wave
      FROM f JOIN d USING (host)
    )
    SELECT url, host, CAST(delay_secs AS BIGINT) AS delay_secs,
           CAST(wave AS BIGINT) AS wave,
           CAST(wave * delay_secs AS BIGINT) AS eta_secs
    FROM ranked
    """,
)
def fetch_wave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling end-to-end: robots.txt bodies are BUILT with
    even-numbered hosts declaring Crawl-delay 7 (plus a second delay
    line that must lose — first-match), odd hosts either no delay or a
    non-numeric one (both -> default 1); the engine PARSES the bodies
    (operators/robots.py:crawl_delays) and windows the frontier into
    waves, while the oracle knows the delays arithmetically — any parse,
    default, ordering, or eta bug mismatches."""
    from .operators.robots import crawl_delays, schedule_fetch_waves

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    host = F.concat(F.col("source"), F.lit(".example"))
    nl = F.lit("\n")
    body = F.concat(
        F.lit("User-agent: *"), nl, F.lit("Disallow: /private"),
        F.when(
            src_num % 2 == 0,
            F.concat(nl, F.lit("Crawl-delay: 7"), nl, F.lit("Crawl-delay: 9")),
        ).when(
            src_num % 5 == 3, F.concat(nl, F.lit("Crawl-delay: soon"))
        ).otherwise(F.lit("")),
    )
    robots = d.select(host.alias("host"), body.alias("body")).distinct()
    delays = crawl_delays(robots)
    frontier = d.select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
        ).alias("url"),
        host.alias("host"),
    )
    waved = schedule_fetch_waves(frontier, delays)
    return waved.select("url", "host", "delay_secs", "wave", "eta_secs")


@query(
    "doc_length_quantiles",
    """
    WITH t AS (
      SELECT source,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS toks
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           round(quantile_cont(toks, 0.50), 4) AS p50,
           round(quantile_cont(toks, 0.90), 4) AS p90,
           round(quantile_cont(toks, 0.99), 4) AS p99
    FROM t GROUP BY source
    """,
)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution report (the first table in any corpus
    datasheet): exact per-source token-count percentiles. Spark's exact
    ``percentile`` (linear interpolation) must agree with DuckDB's
    ``quantile_cont`` to 4 decimals — a cross-engine pin of the
    interpolation semantics, not just the data. (At 10^12 rows the same
    report swaps in ``approx_percentile`` — documented, not oracled, as
    its sketch is engine-specific.)"""
    from .operators.textstats import token_count

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "source", token_count(F.col("text")).cast("double").alias("toks")
    )
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(toks, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(toks, 0.90)"), 4).alias("p90"),
        F.round(F.expr("percentile(toks, 0.99)"), 4).alias("p99"),
    )


@query(
    "domain_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_distinct(string_split(lower(text), ' '))) AS tok
      FROM documents
    ), longtoks AS (
      SELECT doc_id, source, tok FROM toks WHERE length(tok) >= 4
    ), tf AS (
      SELECT source, tok, count(*) AS tf
      FROM longtoks GROUP BY source, tok
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM longtoks GROUP BY tok
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.source, tf.tok,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ), ranked AS (
      SELECT source, tok, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, tok) AS rnk
      FROM scored
    )
    SELECT source, CAST(rnk AS BIGINT) AS rnk, tok, score
    FROM ranked WHERE rnk <= 3
    """,
)
def domain_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain characteristic vocabulary: document-frequency TF-IDF
    over distinct-per-doc tokens (len >= 4), top 3 per source with a
    deterministic tiebreak — the corpus-exploration report a dataset
    datasheet includes next to the mix table. Cross-engine: Spark
    F.log (natural) vs DuckDB ln to 6 decimals, identical ranking."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    toks = d.select(
        "doc_id", "source",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok"),
    ).filter(F.length("tok") >= 4)
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = tf.join(dfreq, "tok").select(
        "source", "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("source", "rnk", "tok", "score")
    )


# ===========================================================================
# sequence packing / chunking / LM buckets / domain mixing (round 5)
# ===========================================================================

# the md5-derived shard used by the packing plan, as SQL (first 4 hex
# digits of the order key — same bytes both engines)
_SHARD8_SQL = (
    "CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"
    " % 8 AS BIGINT)"
)


@query(
    "packed_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord,
             {_SHARD8_SQL} AS shard
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard
                                 ORDER BY ord, CAST(doc_id AS VARCHAR)
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_tok,
           CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_first,
           CAST(floor((cum - 1) / 256.0) AS BIGINT) AS seq_last,
           CASE WHEN floor((cum - 1) / 256.0)
                     > floor((cum - n_tokens) / 256.0)
                THEN 1 ELSE 0 END AS crosses_boundary
    FROM c
    """,
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing plan (operators/packing.py): every
    document placed in the concatenated token stream of its md5 shard,
    cut into 256-token training sequences. The engine computes placement
    with one per-shard window (no global serial stage); the oracle
    replays the identical order and running sum as SQL windows — start
    offsets, first/last sequence ids and the boundary-crossing flag must
    match per document."""
    from .operators.packing import pack_concat_split

    d = _t(spark, sf_dir, "documents")
    return pack_concat_split(d, seq_len=256, n_shards=8)


@query(
    "greedy_pack_bins",
    f"""
    WITH RECURSIVE base AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord,
             {_SHARD8_SQL} AS shard
      FROM documents
    ), t AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY ord, CAST(doc_id AS VARCHAR)) AS rn
      FROM base
    ), walk AS (
      SELECT shard, rn, n_tokens, n_tokens AS fill, CAST(0 AS BIGINT) AS bin_id
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.n_tokens,
             CASE WHEN w.fill + t.n_tokens > 200
                  THEN t.n_tokens ELSE w.fill + t.n_tokens END,
             CASE WHEN w.fill + t.n_tokens > 200
                  THEN w.bin_id + 1 ELSE w.bin_id END
      FROM walk w JOIN t ON t.shard = w.shard AND t.rn = w.rn + 1
    )
    SELECT shard, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           round(sum(n_tokens) / 200.0, 6) AS utilization
    FROM walk GROUP BY 1, 2
    """,
)
def greedy_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split greedy packing audit (operators/packing.py pack_greedy):
    documents walk their shard in deterministic order, a 200-token bin
    closes when the next document would overflow it. The engine's
    per-shard Arrow walk must produce bins identical to the oracle's
    recursive-CTE replay of the same rule — bin membership counts, token
    fills and utilization all match."""
    from .operators.packing import greedy_bin_stats, pack_greedy

    d = _t(spark, sf_dir, "documents")
    return greedy_bin_stats(pack_greedy(d, seq_len=200, n_shards=8), seq_len=200)


@query(
    "ccnet_perplexity_buckets",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
      FROM documents
    ), pairs AS (
      SELECT doc_id, unnest(l[1:len(l) - 1]) AS w1, unnest(l[2:len(l)]) AS w2
      FROM toks WHERE len(l) >= 2
    ), uni AS (
      SELECT token, CAST(count(*) AS DOUBLE) AS c
      FROM (SELECT unnest(l) AS token FROM toks) GROUP BY token
    ), tot AS (SELECT sum(c) AS s FROM uni),
    ulm AS (SELECT token, ln(c / s) AS logp FROM uni, tot),
    big AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12 FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY 1),
    blm AS (SELECT w1, w2, ln(c12 / c1) AS logp FROM big JOIN ctx USING (w1)),
    scored AS (
      SELECT p.doc_id,
             -ln(0.9 * coalesce(exp(b.logp), 0.0)
                 + (1.0 - 0.9) * coalesce(exp(u.logp), 1e-9)) AS nlp
      FROM pairs p
      LEFT JOIN blm b ON p.w1 = b.w1 AND p.w2 = b.w2
      LEFT JOIN ulm u ON p.w2 = u.token
    ), agg AS (
      SELECT doc_id, round(avg(nlp), 6) AS avg_neg_logp FROM scored GROUP BY 1
    )
    SELECT a.doc_id, d.lang, a.avg_neg_logp,
           CAST(ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY a.avg_neg_logp,
                                        CAST(a.doc_id AS VARCHAR)) AS BIGINT)
             AS ppl_tile,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY a.avg_neg_logp,
                                        CAST(a.doc_id AS VARCHAR))
                WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END
             AS ppl_bucket
    FROM agg a JOIN documents d USING (doc_id)
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's LM-quality tiering with a real conditional model: train a
    bigram LM + unigram backoff over the corpus, score every document by
    interpolated mean negative log-probability (lam=0.9), then cut each
    language into head/middle/tail terciles (operators/lm.py). Both
    engines independently train the same models from the same tokens and
    must agree on every document's score (6 dp) and tercile."""
    from .operators.lm import (
        perplexity_buckets,
        score_interpolated_logprob,
        train_bigram_lm,
        train_unigram_lm,
    )

    d = _t(spark, sf_dir, "documents")
    scores = score_interpolated_logprob(
        d, train_bigram_lm(d, "text"), train_unigram_lm(d, "text"),
        lam=0.9, floor_p=1e-9,
    ).drop("n_pairs")
    return perplexity_buckets(scores, d, "doc_id", "lang")


@query(
    "doc_token_chunks",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents
    ), n AS (
      SELECT doc_id, l,
             CASE WHEN len(l) <= 40 THEN 1
                  ELSE CAST(ceil((len(l) - 40) / 30.0) AS BIGINT) + 1 END
               AS n_chunks
      FROM t
    ), c AS (
      SELECT doc_id, l, unnest(range(0, n_chunks)) AS chunk_id FROM n
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 30 AS BIGINT) AS start_tok,
           CAST(len(l[chunk_id * 30 + 1 : chunk_id * 30 + 40]) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(l[chunk_id * 30 + 1 : chunk_id * 30 + 40], ' '))
             AS chunk_digest
    FROM c
    """,
)
def doc_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking for embedding/RAG indexing
    (operators/chunking.py): 40-token chunks with 10-token overlap,
    narrow per-row plan (split → sequence explode → slice), zero
    shuffles. The md5 digest of every chunk's joined text must match the
    oracle's list-slice replay — covering boundaries, the short final
    chunk and single-chunk documents."""
    from .operators.chunking import chunk_tokens

    d = _t(spark, sf_dir, "documents")
    return chunk_tokens(d, chunk_len=40, overlap=10)


@query(
    "domain_temperature_mix",
    r"""
    WITH dims AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n_d FROM documents GROUP BY lang
    ), tot AS (SELECT sum(n_d) AS t FROM dims),
    wts AS (SELECT lang, n_d, pow(n_d / t, 0.5) AS sa FROM dims, tot),
    den AS (SELECT sum(sa) AS d FROM wts),
    q AS (
      SELECT lang,
             least(CAST(round(200 * sa / d, 0) AS BIGINT), CAST(n_d AS BIGINT))
               AS quota
      FROM wts, den
    ), r AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
             ) AS BIGINT) AS dom_rank
      FROM documents
    )
    SELECT doc_id, lang, dom_rank
    FROM r JOIN q USING (lang) WHERE dom_rank <= quota
    """,
)
def domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (operators/sampling.py
    domain_temperature_sample): ~200 documents drawn across languages
    with quota proportional to share(lang)**0.5 — the standard recipe for
    upsampling tail domains/languages in a training mixture. Quota math
    runs on the tiny domain table (broadcast back); selection is the
    deterministic md5 order, so both engines pick the identical rows."""
    from .operators.sampling import domain_temperature_sample

    d = _t(spark, sf_dir, "documents")
    return domain_temperature_sample(d, k=200, alpha=0.5, group_col="lang")


@query(
    "content_block_extract",
    r"""
    WITH built AS (
      SELECT doc_id,
        '<nav><a href="/">Home</a> <a href="/about">About us page</a> '
        || '<a href="/contact">Contact</a></nav>'
        || '<p>' || substr(text, 1, 150) || '</p>'
        || '<p>' || substr(text, 80, 150) || ' see <a href="/doc/'
        || doc_id || '">doc ' || doc_id || '</a></p>'
        || '<footer>(c) 2024 ' || source || '</footer>' AS h
      FROM documents
    ), blocks AS (
      SELECT doc_id, i - 1 AS block_idx, parts[i] AS raw
      FROM (
        SELECT doc_id,
               string_split_regex(h,
                 '(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|table|thead|tbody|tr|td'
                 || '|th|section|article|aside|header|footer|nav|blockquote'
                 || '|pre|form|br|hr)\b[^>]*>') AS parts
        FROM built
      ), unnest(range(1, len(parts) + 1)) AS u(i)
    ), scored AS (
      SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx,
        CAST(length(trim(regexp_replace(regexp_replace(raw,
          '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars,
        CAST(coalesce(list_sum(list_transform(
          regexp_extract_all(raw, '(?is)<a\b[^>]*>(.*?)</a>', 1),
          a -> length(trim(regexp_replace(regexp_replace(a,
            '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))), 0) AS BIGINT)
          AS link_chars,
        md5(trim(regexp_replace(regexp_replace(raw,
          '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))) AS text_digest
      FROM blocks
    )
    SELECT doc_id, block_idx, n_chars, link_chars,
      CASE WHEN n_chars > 0 THEN round(link_chars / n_chars, 6)
           ELSE 0.0 END AS link_density,
      CASE WHEN n_chars >= 30 AND link_chars <= 0.4 * n_chars
           THEN 1 ELSE 0 END AS kept,
      text_digest
    FROM scored
    """,
)
def content_block_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style main-content extraction (operators/content.py): both
    engines synthesize the same page — a link-dense nav, two long content
    paragraphs (the second with an inline anchor), a short footer — split
    it at block-tag boundaries with the same RE2-portable pattern, and
    score every block by visible-text length and anchor-text share. Block
    indexes, char counts, densities, keep verdicts and the md5 of each
    block's normalized text must all match; the nav and footer must be
    dropped and both paragraphs kept."""
    from .operators.content import content_blocks

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit(
                '<nav><a href="/">Home</a> <a href="/about">About us page'
                '</a> <a href="/contact">Contact</a></nav>'
            ),
            F.lit("<p>"), F.substring("text", 1, 150), F.lit("</p>"),
            F.lit("<p>"), F.substring("text", 80, 150),
            F.lit(' see <a href="/doc/'), did, F.lit('">doc '), did,
            F.lit("</a></p>"),
            F.lit("<footer>(c) 2024 "), F.col("source"), F.lit("</footer>"),
        ).alias("h"),
    )
    blocks = content_blocks(
        pages, url_col="doc_id", html_col="h",
        min_chars=30, max_link_density=0.4,
    )
    return blocks.select(
        "doc_id", "block_idx", "n_chars", "link_chars", "link_density",
        "kept", F.md5("block_text").alias("text_digest"),
    )


# ===========================================================================
# round 5: exact-substring span removal, quality-aware cluster
# representatives, BM25 ranked retrieval
# ===========================================================================


@query(
    "dup_span_removal",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM all_docs),
    occ AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(tk) - 4, 0))) AS s,
             unnest(list_transform(range(0, greatest(len(tk) - 4, 0)),
                    i -> md5(array_to_string(tk[i+1:i+5], ' ')))) AS dig
      FROM tok
    ),
    dup AS (SELECT dig FROM occ GROUP BY dig HAVING count(*) >= 2),
    docc AS (SELECT o.doc_id, o.s FROM occ o JOIN dup USING (dig)),
    lagd AS (
      SELECT doc_id, s,
             lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
      FROM docc
    ),
    isl AS (
      SELECT doc_id, s,
             sum(CASE WHEN prev IS NULL OR s - prev > 5 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS g
      FROM lagd
    ),
    iv AS (SELECT doc_id, min(s) AS a, max(s) + 5 AS b
           FROM isl GROUP BY doc_id, g),
    pos AS (
      SELECT doc_id, unnest(range(0, len(tk))) AS i, unnest(tk) AS tokn
      FROM tok
    ),
    keep AS (
      SELECT p.doc_id, p.i, p.tokn FROM pos p
      WHERE NOT EXISTS (
        SELECT 1 FROM iv v
        WHERE v.doc_id = p.doc_id AND p.i >= v.a AND p.i < v.b)
    ),
    reb AS (
      SELECT doc_id, string_agg(tokn, ' ' ORDER BY i) AS clean_text,
             count(*) AS n_kept
      FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           md5(coalesce(r.clean_text, '')) AS clean_md5
    FROM tok t LEFT JOIN reb r USING (doc_id)
    """,
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate-span removal (dedup.remove_duplicate_spans,
    Lee et al. 2022 ExactSubstr restated distributively) over the
    planted-duplicate corpus: every 5-token span occurring twice-or-more
    corpus-wide is cut, overlapping spans merged first. Cloned documents
    (and their originals) must strip to empty; natural 5-gram overlap in
    unique documents is cut identically by both engines — token counts,
    removed counts and the md5 of every rewritten document value-for-value
    against the oracle's window-island restatement of the same algorithm."""
    out = dedup.remove_duplicate_spans(
        _docs_with_exact_dups(spark, sf_dir), n=5, min_count=2
    )
    return out.select(
        "doc_id", "n_tokens", "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    )


@query(
    "cluster_keep_best",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
    ),
    c AS (
      SELECT doc_id, md5(text) AS cluster,
             CAST(doc_id % 7 AS DOUBLE) AS score
      FROM all_docs
    )
    SELECT doc_id, cluster, score,
           first_value(doc_id) OVER
             (PARTITION BY cluster ORDER BY score DESC, doc_id) AS keep_id,
           doc_id = first_value(doc_id) OVER
             (PARTITION BY cluster ORDER BY score DESC, doc_id) AS keep
    FROM c
    """,
)
def cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (dedup.cluster_representatives):
    documents clustered by exact content digest, scored by a synthetic
    quality that VARIES within each planted cluster (doc_id % 7 — the
    clone's shifted id draws a different score than its original, so the
    argmax is exercised, not just the tie-break), highest score kept.
    tests/test_dedup_ids.py composes the same operator with REAL
    near_dup_clusters output and quality_score."""
    d = _docs_with_exact_dups(spark, sf_dir)
    clustered = d.select(
        "doc_id",
        F.md5("text").alias("cluster"),
        (F.col("doc_id") % 7).cast("double").alias("score"),
    )
    return dedup.cluster_representatives(clustered)


_BM25_TERMS = ("spark", "hash", "shuffle")


@query(
    "bm25_relevance",
    f"""
    WITH toks AS (
      SELECT 'doc://' || doc_id AS doc_id, t AS token
      FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
      WHERE length(t) > 0 AND t NOT IN ({_QS_STOPWORDS_SQL})),
    idx AS (
      SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY token, doc_id),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM idx GROUP BY doc_id),
    corpus AS (SELECT count(*) AS n_total, avg(dl) AS avgdl FROM dl),
    p AS (SELECT * FROM idx
          WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})),
    dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfreq
              FROM p GROUP BY token)
    SELECT p.doc_id,
           round(sum(
             ln(1 + (c.n_total - f.dfreq + 0.5) / (f.dfreq + 0.5))
             * (p.tf * 2.2)
             / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / c.avgdl))
           ), 6) AS bm25,
           CAST(count(*) AS BIGINT) AS n_terms_matched
    FROM p
    JOIN dfreq f USING (token)
    JOIN dl d USING (doc_id)
    CROSS JOIN corpus c
    GROUP BY p.doc_id
    """,
)
def bm25_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (search.bm25_scores) over the document
    corpus: both engines build the same analyzer/index, compute Lucene's
    non-negative idf and the k1=1.2/b=0.75 length-normalized term weight
    independently, 6-decimal score match per matching document. Unlimited
    (k=None) so the result set is closed-form — top-k ORDERING is pinned
    by tests/test_search_bm25.py instead, where near-tie rounding can't
    flip set membership."""
    from .operators.search import bm25_scores

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("text").alias("extracted_text"),
    )
    return bm25_scores(d, " ".join(_BM25_TERMS))


@query(
    "phrase_search_hits",
    f"""
    WITH tok AS (
      SELECT 'doc://' || doc_id AS doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> length(t) > 0
                              AND t NOT IN ({_QS_STOPWORDS_SQL})) AS tk
      FROM documents),
    verified AS (
      SELECT doc_id, tk,
             len(list_filter(range(0, greatest(len(tk) - 1, 0)),
                 i -> tk[i+1:i+2] = ['table', 'part'])) AS occ
      FROM tok
      WHERE list_contains(tk, 'table') AND list_contains(tk, 'part')
            AND NOT list_contains(tk, 'vector')),
    loose AS (
      SELECT doc_id, len(list_filter(tk, t -> t = 'spark')) AS ls
      FROM tok)
    SELECT v.doc_id,
           CAST(v.occ * 2 + l.ls AS BIGINT) AS score,
           CAST(v.occ AS BIGINT) AS n_phrase_hits
    FROM verified v JOIN loose l USING (doc_id)
    WHERE v.occ > 0
    """,
)
def phrase_search_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo $text grammar (search.phrase_search — quoted phrase AND,
    -term negation, loose OR scoring; reference src/search_engine.py:131
    passes the raw user string into $text): the query
    '"table part" spark -vector' must return exactly the documents whose
    stopword-stripped token stream contains ['table','part'] contiguously
    and never 'vector', scored occurrences*2 + tf('spark'), value-for-value
    against the oracle's list-slice contiguity restatement."""
    from .operators.search import phrase_search

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.col("text").alias("extracted_text"),
    )
    return phrase_search(d, '"table part" spark -vector')


@query(
    "leakage_safe_splits",
    f"""
    WITH hosts AS (
      SELECT doc_id,
        CASE doc_id % 8
          WHEN 0 THEN 'www.' || source || '.example.com'
          WHEN 1 THEN source || '.github.io'
          WHEN 2 THEN 'a.b.' || source || '.github.io'
          WHEN 3 THEN source || '.co.uk'
          WHEN 4 THEN 'blog.' || source || '.co.uk'
          WHEN 5 THEN source || '.internal'
          WHEN 6 THEN 'github.io'
          ELSE 'localhost' END AS host
      FROM documents
    ), sfx(s, n) AS (
      VALUES {_PSL_VALUES}
    ), m AS (
      SELECT h.doc_id, h.host, coalesce(max(sfx.n), 1) AS sn
      FROM hosts h LEFT JOIN sfx
        ON (h.host = sfx.s OR h.host LIKE '%.' || sfx.s)
      GROUP BY h.doc_id, h.host
    ), rd AS (
      SELECT doc_id, host,
        CASE WHEN len(string_split(host, '.')) > sn
             THEN array_to_string(
                    list_slice(string_split(host, '.'),
                               len(string_split(host, '.')) - sn,
                               len(string_split(host, '.'))), '.')
        END AS registrable_domain
      FROM m
    ), b AS (
      SELECT *,
        CAST(('0x' || substr(md5(coalesce(registrable_domain, host)), 1, 4))
             AS INTEGER) AS bucket
      FROM rd
    )
    SELECT doc_id, host, registrable_domain,
           CASE WHEN bucket < 58982 THEN 'train'
                WHEN bucket < 62259 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-grouped train/val/test assignment
    (sampling.leakage_safe_split): both engines resolve the PSL
    registrable domain over every interesting host shape, hash the
    coalesced group key identically (first 4 md5 hex digits as the
    bucket) and map the same 0.9/0.05/0.05 boundaries — assignment
    value-for-value, so the no-domain-straddles-splits invariant holds by
    construction (also asserted directly in tests/test_split.py)."""
    from .operators.sampling import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = F.col("source")
    host = (
        F.when(did % 8 == 0, F.concat(F.lit("www."), src, F.lit(".example.com")))
        .when(did % 8 == 1, F.concat(src, F.lit(".github.io")))
        .when(did % 8 == 2, F.concat(F.lit("a.b."), src, F.lit(".github.io")))
        .when(did % 8 == 3, F.concat(src, F.lit(".co.uk")))
        .when(did % 8 == 4, F.concat(F.lit("blog."), src, F.lit(".co.uk")))
        .when(did % 8 == 5, F.concat(src, F.lit(".internal")))
        .when(did % 8 == 6, F.lit("github.io"))
        .otherwise(F.lit("localhost"))
    )
    return leakage_safe_split(
        d.select("doc_id", host.alias("host"))
    ).select("doc_id", "host", "registrable_domain", "split")


def _centroid_table_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(f"CAST({w} AS DOUBLE)" for w in c) + "]"
        for c in _IVF_CENTROIDS
    )
    return f"[{rows}]"


@query(
    "semantic_dedup",
    f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100
      UNION ALL
      SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT vec_id + 20000, embedding FROM embeddings WHERE vec_id < 5),
    celled AS (
      SELECT vec_id, embedding,
             ({_ivf_cells_sql('embedding', 1)})[1] AS cell
      FROM base),
    p AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM (SELECT vec_id, embedding AS qv, cell FROM celled) x
      JOIN (SELECT vec_id, embedding AS cv, cell FROM celled) y
      USING (cell)
      WHERE x.vec_id < y.vec_id AND {_COSINE_SQL} >= 0.99),
    e AS (SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p),
    reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    comp AS (
      SELECT a AS vec_id, least(min(b), a) AS component
      FROM reach GROUP BY a),
    scored AS (
      SELECT c.vec_id AS id,
             CAST(c.cell AS BIGINT) AS cell,
             (SELECT {_COSINE_SQL} FROM (SELECT c.embedding AS qv,
                     ({_centroid_table_sql()})[c.cell + 1] AS cv))
               AS centroid_sim,
             coalesce(m.component, c.vec_id) AS cluster
      FROM celled c LEFT JOIN comp m ON c.vec_id = m.vec_id)
    SELECT id, cell, centroid_sim, cluster,
           first_value(id) OVER
             (PARTITION BY cluster ORDER BY centroid_sim ASC, id ASC)
             AS keep_id,
           id = first_value(id) OVER
             (PARTITION BY cluster ORDER BY centroid_sim ASC, id ASC)
             AS keep
    FROM scored
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semdedup, arXiv:2303.09540) over the planted-
    duplicate embedding corpus (two clone tiers make 3-member groups):
    both engines assign the same k-means cells from the persisted centroid
    literals, score only within-cell pairs, transitively close the ≥0.99
    graph (Spark: iterative min-label CC; oracle: recursive-CTE closure),
    and keep each group's LEAST-centroid-typical member — assignment,
    similarity, cluster and survivor value-for-value."""
    e = _t(spark, sf_dir, "embeddings", rebalance=False).select(
        "vec_id", "embedding"
    )
    base = (
        e.filter(F.col("vec_id") < 100)
        .unionByName(
            e.filter(F.col("vec_id") < 10).select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            e.filter(F.col("vec_id") < 5).select(
                (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
            )
        )
    )
    out = similarity.semdedup(base, _IVF_CENTROIDS, threshold=0.99)
    return out.select(
        "id", F.col("cell").cast("long").alias("cell"),
        "centroid_sim", "cluster", "keep_id", "keep",
    )


# ===========================================================================
# CDX index source: SURT urlkeys + WARC range-fetch planning
# ===========================================================================


@query(
    "cdx_surt_keys",
    """
    SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN 'com,example,' || source || ')/p'
                    || CAST(doc_id AS VARCHAR) || '?a='
                    || CAST(doc_id % 3 AS VARCHAR) || '&b=2'
        WHEN 1 THEN 'org,' || source || ')/'
                    || CAST(doc_id AS VARCHAR) || '/x'
        WHEN 2 THEN 'net,' || source || ',cdn:8080)/a/b'
        ELSE 'io,' || source || ')/'
      END AS urlkey
    FROM documents WHERE doc_id < 400
    """,
)
def cdx_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT urlkey computation (operators/cdx.py) over four deterministic
    URL shapes that together exercise every rule: www-strip + mixed-case
    host + unsorted mixed-case query (v0), default-port strip (v1),
    non-default port kept after the reversed host + double-slash collapse
    + trailing slash + fragment (v2), and empty path (v3). The oracle
    reconstructs each expected key arithmetically from the construction —
    any canonicalization bug (label order, port placement, case folding,
    query sort, path normalization) mismatches its variant."""
    from .operators.cdx import surt_key

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    did = F.col("doc_id")
    url = (
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("https://WWW."), F.col("source"),
                F.lit(".Example.COM/P"), did.cast("string"),
                F.lit("?b=2&A="), (did % 3).cast("string"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit("HTTP://"), F.col("source"), F.lit(".ORG:80/"),
                did.cast("string"), F.lit("/x"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit("https://cdn."), F.col("source"),
                F.lit(".net:8080/a//b/#frag"),
            ),
        )
        .otherwise(F.concat(F.lit("https://"), F.col("source"), F.lit(".io")))
    )
    return d.select("doc_id", surt_key(url).alias("urlkey"))


@query(
    "cdx_fetch_plan",
    """
    WITH s AS (
      SELECT doc_id // 4 AS seq,
             'crawl-0000' || CAST(doc_id % 4 AS VARCHAR) || '.warc.gz'
               AS filename
      FROM documents WHERE doc_id < 400
    ), r AS (
      SELECT filename, seq,
             seq * 1000 + (seq // 5) * 50000 AS off,
             1000 - (seq % 3) AS len
      FROM s
    )
    SELECT filename,
           CAST(min(off) AS BIGINT)            AS fetch_start,
           CAST(max(off + len) AS BIGINT)      AS fetch_end,
           CAST(max(off + len) - min(off) AS BIGINT) AS fetch_bytes,
           count(*)                            AS n_records
    FROM r GROUP BY filename, seq // 5
    """,
)
def cdx_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ parse → range-fetch coalescing, end-to-end through the real
    parser: Spark builds CDXJ index lines (urlkey, 14-digit timestamp,
    compact JSON with string-typed numerics — the real CC format),
    operators/cdx.parse_cdxj recovers typed rows, and plan_warc_fetches
    (max_gap=2) coalesces them into ranged fetch tasks. Offsets step by
    1000 with lengths 1000-(seq%3), so consecutive records leave framing
    gaps of 0-2 bytes (all coalesce) and every 5th record jumps +50000
    (breaks the range). The oracle reconstructs the arithmetic directly;
    a bug in the line split, JSON field mapping, numeric casts, or the
    gap/window logic shifts a boundary and mismatches."""
    from .operators.cdx import parse_cdxj, plan_warc_fetches

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    did = F.col("doc_id")
    seq = F.floor(did / 4).cast("long")
    offset = seq * 1000 + F.floor(seq / 5) * 50000
    length = F.lit(1000) - (seq % 3)
    filename = F.concat(
        F.lit("crawl-0000"), (did % 4).cast("string"), F.lit(".warc.gz")
    )
    js = F.to_json(
        F.struct(
            F.concat(F.lit("https://h"), did.cast("string")).alias("url"),
            F.lit("text/html").alias("mime"),
            F.lit("200").alias("status"),
            F.md5(did.cast("string")).alias("digest"),
            length.cast("string").alias("length"),
            offset.cast("string").alias("offset"),
            filename.alias("filename"),
        )
    )
    lines = d.select(
        F.concat_ws(" ", F.lit("k"), F.lit("20240301120000"), js).alias("line")
    )
    parsed = parse_cdxj(lines)
    return plan_warc_fetches(parsed, max_gap=2)


# ===========================================================================
# distributed BPE tokenizer training (operators/bpe_train.py)
# ===========================================================================


def _bpe_oracle(num_merges: int, doc_limit: int) -> str:
    """Unrolled-CTE replay of learn_bpe (the pagerank-oracle pattern):
    per iteration, zip-unnest adjacent pairs → argmax with the identical
    tie-break → re-segment via a list_reduce fold that is line-for-line
    the same left-fold semantics as operators/bpe_train.merge_pair."""
    sql = f"""
    WITH w AS (
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        FROM documents WHERE doc_id < {doc_limit})
      WHERE word <> '' GROUP BY word
    ), it0 AS (SELECT word, cnt, regexp_extract_all(word, '.') AS syms FROM w)"""
    for i in range(num_merges):
        sql += f""",
    p{i} AS (
      SELECT a, b, sum(cnt) AS pair_count FROM (
        SELECT cnt, unnest(syms[1:len(syms)-1]) AS a,
               unnest(syms[2:len(syms)]) AS b
        FROM it{i} WHERE len(syms) >= 2)
      GROUP BY a, b
    ), b{i} AS (SELECT a, b, pair_count FROM p{i}
                ORDER BY pair_count DESC, a, b LIMIT 1),
    it{i + 1} AS (
      SELECT word, cnt,
        list_reduce(list_transform(syms, s -> [s]),
          (acc, x) -> CASE WHEN acc[-1] = b{i}.a AND x[1] = b{i}.b
                      THEN list_concat(acc[1:(len(acc) - 1)],
                                       [b{i}.a || b{i}.b])
                      ELSE list_concat(acc, x) END) AS syms
      FROM it{i}, b{i})"""
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS rank, a AS sym_a, b AS sym_b,"
        f" CAST(pair_count AS BIGINT) AS pair_count FROM b{i}"
        for i in range(num_merges)
    )
    return sql + "\n    " + selects


@query("bpe_merge_learning", _bpe_oracle(4, 120))
def bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (operators/bpe_train.py, arXiv:1508.07909)
    over the documents corpus: 4 merge rules learned end-to-end. Each
    oracle rank depends on the previous iteration's fold output, so a
    single mis-merged word anywhere in the vocab shifts a later argmax
    and mismatches. Multi-merge segmentation parity against a pure-Python
    reference BPE: tests/test_bpe_train.py."""
    from .operators.bpe_train import learn_bpe, word_counts

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    merges = learn_bpe(word_counts(d), num_merges=4)
    rows = [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank long, sym_a string, sym_b string, pair_count long"
    )


@query(
    "sitemap_url_discovery",
    r"""
    WITH d AS (
      SELECT doc_id,
             'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
      FROM documents WHERE doc_id < 100
    ), x AS (
      SELECT host,
        '<?xml version="1.0"?><urlset><url><loc'
        || CASE WHEN doc_id % 2 = 0 THEN ' xmlns="s"' ELSE '' END
        || '>https://' || host || '/p' || CAST(doc_id AS VARCHAR)
        || '</loc><lastmod>2024-01-01</lastmod></url><url><LOC>'
        || chr(10) || '  https://' || host || '/q'
        || CAST(doc_id AS VARCHAR) || ' ' || chr(10)
        || '</loc></url></urlset>' AS xml
      FROM d
    ), locs AS (
      SELECT host,
             unnest(regexp_extract_all(
               xml, '(?is)<loc[^>]*>\s*(.*?)\s*</loc', 1)) AS loc
      FROM x
    )
    SELECT host, loc,
           'example,' || regexp_extract(loc, '^https://(site[0-9]+)\.example', 1)
           || ')' || regexp_extract(loc, '\.example(/.*)$', 1) AS urlkey
    FROM locs
    """,
)
def sitemap_url_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion → frontier keys: robots.sitemap_locs explodes
    <loc> entries (attribute noise, case-insensitive tag, whitespace
    padding, distractor <lastmod> tags — hostile markup built identically
    on both sides, extracted independently by Java regex vs DuckDB RE2),
    then cdx.surt_key turns each discovered URL into its index probe key
    (oracle reconstructs keys with independent string ops)."""
    from .operators.cdx import surt_key
    from .operators.robots import sitemap_locs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    did = F.col("doc_id")
    host = F.concat(F.lit("site"), (did % 7).cast("string"), F.lit(".example"))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc'),
        F.when(did % 2 == 0, F.lit(' xmlns="s"')).otherwise(F.lit("")),
        F.lit(">https://"), host, F.lit("/p"), did.cast("string"),
        F.lit("</loc><lastmod>2024-01-01</lastmod></url><url><LOC>\n  https://"),
        host, F.lit("/q"), did.cast("string"), F.lit(" \n</loc></url></urlset>"),
    )
    locs = sitemap_locs(d.select(host.alias("host"), xml.alias("xml")))
    return locs.select(
        "host", "loc", surt_key(F.col("loc")).alias("urlkey")
    )


# ===========================================================================
# HTML → Markdown (operators/markdown.py)
# ===========================================================================

from .operators.markdown import markdown_sql as _md_sql  # noqa: E402

_MD_HTML_SQL = (
    "'<html><head><style>a{b}</style><script>var x=1;</script></head>"
    "<body><h1 id=\"t\">Doc ' || CAST(doc_id AS VARCHAR) || "
    "' &amp; friends</h1><p>' || substr(text, 1, 80) || "
    "'</p><ul><li>lang: ' || lang || '</li><li>source: <B>' || source || "
    "'</B></li></ul><a href=\"https://ex.example/' || CAST(doc_id AS VARCHAR)"
    " || '\">More &lt;here&gt;</a><pre>keep</pre></body></html>'"
)


@query(
    "html_markdown_docs",
    f"""
    SELECT doc_id, {_md_sql(_MD_HTML_SQL)} AS markdown
    FROM documents WHERE doc_id < 150
    """,
)
def html_markdown_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → Markdown conversion (operators/markdown.py): hostile-ish
    HTML (style/script blocks, attributes, uppercase tags, entities, a
    <pre> that a sloppy <p> rule would eat) is built identically on both
    sides from document fields, then converted by the SAME regexp chain
    running under Java regex (Spark) and RE2 (DuckDB) — headings, bold,
    bullets, links and whitespace normalization value-for-value."""
    from .operators.markdown import html_to_markdown

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><style>a{b}</style><script>var x=1;</script>'
              '</head><body><h1 id="t">Doc '),
        did,
        F.lit(" &amp; friends</h1><p>"),
        F.substring("text", 1, 80),
        F.lit("</p><ul><li>lang: "),
        F.col("lang"),
        F.lit("</li><li>source: <B>"),
        F.col("source"),
        F.lit('</B></li></ul><a href="https://ex.example/'),
        did,
        F.lit('">More &lt;here&gt;</a><pre>keep</pre></body></html>'),
    )
    return d.select("doc_id", html_to_markdown(html).alias("markdown"))


@query(
    "robots_wildcard_admission",
    """
    SELECT doc_id,
           'w' || CAST(doc_id % 3 AS VARCHAR) || '.example' AS host,
           CASE
             WHEN doc_id % 3 = 2 THEN TRUE          -- no rules for w2
             WHEN doc_id % 6 = 1 THEN FALSE         -- /private (prefix 8)
             WHEN doc_id % 6 = 3 THEN (doc_id % 3 = 1)
                  -- /*.pdf$ disallows (7) unless w1's allow /files/*.pdf$ (13)
             WHEN doc_id % 6 = 5 THEN FALSE         -- /search?* disallows
             ELSE TRUE  -- /public & .pdfx (the $ anchor misses) & /private/ok
           END AS allowed
    FROM documents WHERE doc_id < 300
    """,
)
def robots_wildcard_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 wildcard robots admission (robots_allowed(wildcards=True)):
    rules with ``*`` runs, ``$`` end anchors, regex metachars (``?``,
    ``.``) in paths, and an allow/disallow specificity race decided by
    raw pattern length. Six path shapes × three hosts; the oracle states
    the expected verdict per shape arithmetically — an escaping bug, a
    mis-anchored ``$``, or a wrong specificity rule flips a CASE arm."""
    from .operators.robots import robots_allowed

    shared = [
        ("disallow", "/private"),
        ("allow", "/private/ok"),
        ("disallow", "/*.pdf$"),
        ("disallow", "/search?*"),
    ]
    rules = spark.createDataFrame(
        [(h, "*", r, p) for h in ("w0.example", "w1.example") for r, p in shared]
        + [("w1.example", "*", "allow", "/files/*.pdf$")],
        "host string, agent string, rule string, prefix string",
    )
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    ds = did.cast("string")
    path = (
        F.when(did % 6 == 0, F.concat(F.lit("/public/page"), ds))
        .when(did % 6 == 1, F.concat(F.lit("/private/page"), ds))
        .when(did % 6 == 2, F.concat(F.lit("/private/ok/page"), ds))
        .when(did % 6 == 3, F.concat(F.lit("/files/doc"), ds, F.lit(".pdf")))
        .when(did % 6 == 4, F.concat(F.lit("/files/doc"), ds, F.lit(".pdfx")))
        .otherwise(F.concat(F.lit("/search?q="), ds))
    )
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://w"), (did % 3).cast("string"), F.lit(".example"), path
        ).alias("url"),
    )
    out = robots_allowed(urls, rules, wildcards=True)
    return out.select("doc_id", "host", "allowed")


# ===========================================================================
# HTML table extraction (operators/tables.py)
# ===========================================================================

from .operators.tables import cell_cleanup_sql as _cell_sql  # noqa: E402

_TBL_HTML_SQL = (
    "'<h1>Doc</h1><table class=\"t\"><thead><tr><th>Item</th><th>Qty &amp; "
    "Unit</th></tr></thead><tbody><tr><td><b>' || source || '</b></td>"
    "<td> ' || CAST(doc_id AS VARCHAR) || '&nbsp;pcs</td></tr>"
    "<tr><td>empty:</td><td></td></tr></tbody></table><p>between</p>"
    "<table><tr><td>solo ' || lang || '</td></tr></table>'"
)


@query(
    "html_table_rows",
    f"""
    WITH x AS (
      SELECT doc_id, {_TBL_HTML_SQL} AS html FROM documents WHERE doc_id < 150
    ), t AS (
      SELECT doc_id,
             unnest(regexp_extract_all(html,
               '(?is)<table[^>]*>(.*?)</table\\s*>', 1)) AS tbody,
             unnest(range(len(regexp_extract_all(html,
               '(?is)<table[^>]*>(.*?)</table\\s*>', 1)))) AS table_idx
      FROM x
    ), r AS (
      SELECT doc_id, table_idx,
             unnest(regexp_extract_all(tbody,
               '(?is)<tr[^>]*>(.*?)</tr\\s*>', 1)) AS rowhtml,
             unnest(range(len(regexp_extract_all(tbody,
               '(?is)<tr[^>]*>(.*?)</tr\\s*>', 1)))) AS row_idx
      FROM t
    )
    SELECT doc_id, CAST(table_idx AS BIGINT) AS table_idx,
           CAST(row_idx AS BIGINT) AS row_idx,
           list_transform(
             regexp_extract_all(rowhtml,
               '(?is)<t[dh][^>]*>\\s*(.*?)\\s*</t[dh]\\s*>', 1),
             c -> {_cell_sql('c')}) AS cells
    FROM r
    """,
)
def html_table_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (operators/tables.py): two tables per doc
    (header row with th, a data row with nested bold + entity + nbsp, an
    empty cell, then a second one-row table after intervening markup) →
    (doc_id, table_idx, row_idx, cells). Both engines run the identical
    three-level regex chain independently; a wrong explode pairing,
    index base, or cell-cleanup rule mismatches value-for-value."""
    from .operators.tables import extract_html_tables

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    html = F.concat(
        F.lit('<h1>Doc</h1><table class="t"><thead><tr><th>Item</th>'
              "<th>Qty &amp; Unit</th></tr></thead><tbody><tr><td><b>"),
        F.col("source"),
        F.lit("</b></td><td> "),
        F.col("doc_id").cast("string"),
        F.lit("&nbsp;pcs</td></tr><tr><td>empty:</td><td></td></tr>"
              "</tbody></table><p>between</p><table><tr><td>solo "),
        F.col("lang"),
        F.lit("</td></tr></table>"),
    )
    src = d.select("doc_id", html.alias("html"))
    out = extract_html_tables(src, id_col="doc_id", html_col="html")
    return out.select(
        F.col("id").alias("doc_id"), "table_idx", "row_idx", "cells"
    )


@query(
    "url_template_mining",
    r"""
    WITH u AS (
      SELECT doc_id,
        's' || CAST(doc_id % 3 AS VARCHAR) || '.example' AS host,
        CASE doc_id % 5
          WHEN 0 THEN '/product/' || CAST(doc_id AS VARCHAR) || '/view'
          WHEN 1 THEN '/product/' || CAST(doc_id * 7 AS VARCHAR) || '/view'
          WHEN 2 THEN '/u/' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                      || '/profile'
          WHEN 3 THEN '/about'
          ELSE '/post/2024/03/item' || CAST(doc_id AS VARCHAR)
        END AS path
      FROM documents WHERE doc_id < 300
    ), t AS (
      SELECT host, 'https://' || host || path AS url,
             regexp_replace(regexp_replace(lower(path),
               '[0-9a-f]{8,}', '{hex}', 'g'), '\d+', '{n}', 'g') AS template
      FROM u
    )
    SELECT host, template, count(*) AS n_urls, min(url) AS example_url
    FROM t GROUP BY host, template
    """,
)
def url_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining (operators/urls.py path_template): id-ish path
    segments generalize ({hex} for 8+ hex runs — md5 fragments here —
    then {n} for digit runs) so two crawls of /product/8812 and
    /product/9177 share one template key. Five path shapes over three
    hosts; both engines generalize independently and aggregate
    (count + lexicographic-min example) value-for-value."""
    from .operators.urls import url_template_stats

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    ds = did.cast("string")
    host = F.concat(F.lit("s"), (did % 3).cast("string"), F.lit(".example"))
    path = (
        F.when(did % 5 == 0, F.concat(F.lit("/product/"), ds, F.lit("/view")))
        .when(
            did % 5 == 1,
            F.concat(F.lit("/product/"), (did * 7).cast("string"), F.lit("/view")),
        )
        .when(
            did % 5 == 2,
            F.concat(F.lit("/u/"), F.substring(F.md5(ds), 1, 12), F.lit("/profile")),
        )
        .when(did % 5 == 3, F.lit("/about"))
        .otherwise(F.concat(F.lit("/post/2024/03/item"), ds))
    )
    urls = d.select(F.concat(F.lit("https://"), host, path).alias("url"))
    return url_template_stats(urls)


@query(
    "noindex_admission",
    """
    SELECT doc_id,
      CASE doc_id % 6
        WHEN 0 THEN 'noindex, nofollow'
        WHEN 1 THEN 'index,follow'
        WHEN 2 THEN 'none'
        WHEN 3 THEN 'nofollow'
        WHEN 4 THEN ''
        ELSE 'noindexing'
      END AS robots_content,
      (doc_id % 6) IN (0, 2) AS noindex,
      (doc_id % 6) IN (0, 2, 3) AS nofollow
    FROM documents WHERE doc_id < 300
    """,
)
def noindex_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-robots admission (operators/metadata.py meta_robots /
    robots_noindex / robots_nofollow): six page shapes — comma+space
    list, index/follow decoys whose substrings must NOT match, the
    'none' shorthand, single-quoted attrs, uppercase NAME/CONTENT, no
    tag at all, and 'noindexing' (a token-boundary trap). The oracle
    states the expected verdicts arithmetically."""
    from .operators.metadata import meta_robots, robots_nofollow, robots_noindex

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    meta = (
        F.when(did % 6 == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(did % 6 == 1, F.lit('<meta name="robots" content="index,follow">'))
        .when(did % 6 == 2, F.lit("<meta name='robots' content='none'>"))
        .when(did % 6 == 3, F.lit('<META NAME="robots" CONTENT="NOFOLLOW">'))
        .when(did % 6 == 4, F.lit('<meta name="description" content="x">'))
        .otherwise(F.lit('<meta name="robots" content="noindexing">'))
    )
    html = F.concat(F.lit("<html><head><title>t</title>"), meta,
                    F.lit("</head><body>b</body></html>"))
    return d.select(
        "doc_id",
        meta_robots(html).alias("robots_content"),
        robots_noindex(html).alias("noindex"),
        robots_nofollow(html).alias("nofollow"),
    )


@query("doc_compression_ratio")  # no SQL oracle: DuckDB has no deflate
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (operators/compression.py):
    deflate(text)/octets per document. Rows-only driver check by design
    — no compression scalar exists in DuckDB; correctness is pinned in
    tests/test_compression.py against an independent direct-zlib
    computation plus ordering/degrade properties."""
    from .operators.compression import with_compression_ratio

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_compression_ratio(d).select(
        "doc_id", F.round("compression_ratio", 6).alias("compression_ratio")
    )


@query(
    "winnow_overlap_pairs",
    r"""
    WITH base AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 1000, text || ' appended tail words'
      FROM documents WHERE doc_id < 8
    ), t AS (
      SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS clean
      FROM base
    ), g AS (
      SELECT id, list_transform(range(1, greatest(length(clean) - 9, 0) + 1),
               i -> md5(substr(clean, i, 10))) AS hs
      FROM t
    ), f AS (
      SELECT id, list_distinct(CASE WHEN len(hs) = 0 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(1, greatest(len(hs) - 4, 1) + 1),
               i -> list_min(hs[i:i+4])) END) AS fps
      FROM g
    ), e AS (SELECT id, unnest(fps) AS fp FROM f)
    SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared_fps
    FROM e a JOIN e b ON a.fp = b.fp AND a.id < b.id
    GROUP BY a.id, b.id HAVING count(*) >= 8
    """,
)
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (operators/winnow.py; Schleimer et al.
    SIGMOD 2003): char-10-gram md5 hashes, window-5 minima, distinct
    selected set per doc; pairs sharing >= 8 fingerprints via one
    fingerprint-keyed equi-join. Eight planted tail-edited copies
    (id+1000) must surface (they share >= 22 fingerprints at this
    geometry — the w+k-1 = 14-char shared-substring guarantee at work);
    the natural high-overlap tail of the shared-vocabulary corpus comes
    with them. Both engines compute grams, window minima and the pair
    join independently."""
    from .operators.winnow import winnow_overlap_pairs as _wop

    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 40).select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") < 8).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended tail words")).alias("text"),
        )
    )
    return _wop(base, k=10, w=5, min_shared=8).select(
        "id_a", "id_b", "shared_fps"
    )


@query(
    "shingle_containment_pairs",
    """
    WITH base AS (
      SELECT doc_id AS id, text FROM documents WHERE doc_id < 25
      UNION ALL
      SELECT doc_id + 2000, array_to_string(string_split(text, ' ')[1:12], ' ')
      FROM documents WHERE doc_id < 6
    ), tok AS (SELECT id, string_split(lower(text), ' ') AS tk FROM base),
    sh AS (SELECT id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
           FROM tok WHERE len(tk) >= 3)
    SELECT a.id AS id_a, b.id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(a.sh), 6) AS containment
    FROM sh a JOIN sh b ON a.id <> b.id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / len(a.sh), 6) >= 0.9
    """,
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment (operators/dedup.py containment_pairs;
    Broder 1997): c(A->B) = |A∩B|/|A| over 3-word shingles. Six planted
    12-word excerpts (id+2000) are wholly contained in their source docs
    — containment ~1.0 toward the source while Jaccard is small, the
    subset signal symmetric near-dup tiers miss. Both directions are
    scored; only the quote->source direction clears 0.9."""
    from .operators.dedup import containment_pairs as _cp

    d = _t(spark, sf_dir, "documents")
    quote = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ")
    base = d.filter(F.col("doc_id") < 25).select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") < 6).select(
            (F.col("doc_id") + 2000).alias("doc_id"), quote.alias("text")
        )
    )
    return _cp(base, threshold=0.9)


@query(
    "edit_distance_dups",
    """
    WITH d30 AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
    base AS (
      SELECT doc_id AS id, text AS t FROM d30
      UNION ALL SELECT doc_id + 3000, text || ' xyz' FROM d30 WHERE doc_id < 5
      UNION ALL SELECT doc_id + 4000, text FROM d30 WHERE doc_id < 5
      UNION ALL SELECT doc_id + 5000, text || ' aaaaaaaaaaaaaaaaaaaa'
                FROM d30 WHERE doc_id < 5
    ), b AS (
      SELECT id, t, CAST(floor(length(t) / 16) AS BIGINT) AS bkt FROM base
    ), p AS (
      SELECT id AS id_p, t AS t_p, bkt AS bkt_own,
             unnest([bkt, bkt + 1]) AS bkt_probe
      FROM b
    ), j AS (
      SELECT id_p, t_p, q.id AS id_q, q.t AS t_q
      FROM p JOIN b q ON p.bkt_probe = q.bkt
      WHERE ((p.bkt_own = q.bkt AND p.id_p < q.id) OR p.bkt_own <> q.bkt)
        AND abs(length(p.t_p) - length(q.t)) <= 6
    )
    SELECT least(id_p, id_q) AS id_a, greatest(id_p, id_q) AS id_b,
           CAST(levenshtein(t_p, t_q) AS BIGINT) AS edit_dist
    FROM j WHERE levenshtein(t_p, t_q) <= 6
    """,
)
def edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-edit-distance near-dups (operators/dedup.py
    edit_distance_near_dups): length-banded blocking (band 16 >= max_dist
    6, pigeonhole-complete over adjacent buckets), Spark's banded-DP
    ``levenshtein(l, r, threshold)`` verify. Planted: ' xyz' suffix
    copies (distance 4), byte-identical copies (distance 0), and a
    20-char suffix family that must be EXCLUDED (distance 21). The oracle
    replays the identical bucket/probe/orientation algebra with DuckDB's
    independent levenshtein."""
    from .operators.dedup import edit_distance_near_dups as _ed

    d30 = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).select(
        "doc_id", "text"
    )
    p5 = d30.filter(F.col("doc_id") < 5)
    base = (
        d30.unionByName(
            p5.select((F.col("doc_id") + 3000).alias("doc_id"),
                      F.concat("text", F.lit(" xyz")).alias("text"))
        )
        .unionByName(
            p5.select((F.col("doc_id") + 4000).alias("doc_id"), "text")
        )
        .unionByName(
            p5.select((F.col("doc_id") + 5000).alias("doc_id"),
                      F.concat("text", F.lit(" aaaaaaaaaaaaaaaaaaaa")).alias("text"))
        )
    )
    return _ed(base, max_dist=6, band=16)


# ===========================================================================
# Syndication & discovery XML (operators/feeds.py)
# ===========================================================================


@query(
    "feed_link_discovery",
    r"""
    WITH p AS (
      SELECT 'page://' || CAST(doc_id AS VARCHAR) AS id,
        '<html><head><link rel="stylesheet" href="/s.css">'
        || CASE WHEN doc_id % 3 = 0 THEN ''
             WHEN doc_id % 3 = 1 THEN
               '<link rel="alternate" type="application/rss+xml" href="https://h'
               || CAST(doc_id % 5 AS VARCHAR) || '.example/feed'
               || CAST(doc_id AS VARCHAR) || '.xml">'
             ELSE
               '<LINK type="application/atom+xml" href=''https://h'
               || CAST(doc_id % 5 AS VARCHAR) || '.example/atom'
               || CAST(doc_id AS VARCHAR) || '.xml''>'
           END
        || '<link rel="canonical" href="https://c.example/"></head></html>'
        AS html
      FROM documents WHERE doc_id < 80
    ), m AS (
      SELECT id,
        regexp_extract_all(html,
          '(?is)<link\s[^>]*type\s*=\s*["'']application/(rss|atom)\+xml["'']'
          || '[^>]*href\s*=\s*["'']([^"'']*)', 1) AS ks,
        regexp_extract_all(html,
          '(?is)<link\s[^>]*type\s*=\s*["'']application/(rss|atom)\+xml["'']'
          || '[^>]*href\s*=\s*["'']([^"'']*)', 2) AS us
      FROM p
    )
    SELECT id, lower(unnest(ks)) AS feed_kind, trim(unnest(us)) AS feed_url
    FROM m
    """,
)
def feed_link_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed advertisement discovery (operators/feeds.py
    feed_links): synthetic pages where doc_id%3 picks no-feed / rss /
    atom (uppercase tag, single-quoted attrs), with stylesheet and
    canonical <link> distractors that must NOT match. Both engines run
    the character-identical RE2-portable regex independently; no-feed
    pages contribute zero rows."""
    from .operators.feeds import feed_links

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    did = F.col("doc_id")
    hostn = (did % 5).cast("string")
    rss = F.concat(
        F.lit('<link rel="alternate" type="application/rss+xml" href="https://h'),
        hostn, F.lit(".example/feed"), did.cast("string"), F.lit('.xml">'),
    )
    atom = F.concat(
        F.lit("<LINK type=\"application/atom+xml\" href='https://h"),
        hostn, F.lit(".example/atom"), did.cast("string"), F.lit(".xml'>"),
    )
    html = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/s.css">'),
        F.when(did % 3 == 0, F.lit(""))
        .when(did % 3 == 1, rss)
        .otherwise(atom),
        F.lit('<link rel="canonical" href="https://c.example/"></head></html>'),
    )
    pages = d.select(
        F.concat(F.lit("page://"), did.cast("string")).alias("url"),
        html.alias("html_text"),
    )
    return feed_links(pages)


@query(
    "rss_channel_items",
    r"""
    WITH f AS (
      SELECT 'feed://' || CAST(doc_id AS VARCHAR) AS id,
        '<rss><channel><title>Chan</title><link>https://c.example/</link>'
        || '<item><title> Doc ' || CAST(doc_id AS VARCHAR)
        || ' news </title><link>https://h' || CAST(doc_id % 5 AS VARCHAR)
        || '.example/p' || CAST(doc_id AS VARCHAR)
        || '</link><pubDate>Mon, 0' || CAST(doc_id % 9 + 1 AS VARCHAR)
        || ' Jan 2024</pubDate></item>'
        || CASE WHEN doc_id % 2 = 0 THEN
             '<ITEM><link>https://h' || CAST(doc_id % 5 AS VARCHAR)
             || '.example/q' || CAST(doc_id AS VARCHAR) || '</link></ITEM>'
           ELSE '' END
        || '</channel></rss>' AS xml
      FROM documents WHERE doc_id < 60
    ), b AS (
      SELECT id,
        regexp_extract_all(xml, '(?is)<item[\s>].*?</item>', 0) AS blocks
      FROM f
    ), e AS (
      SELECT id,
        unnest(range(1, len(blocks) + 1)) AS item_idx,
        unnest(blocks) AS block
      FROM b
    )
    SELECT id, CAST(item_idx AS BIGINT) AS item_idx,
      trim(regexp_extract(block, '(?is)<title[^>]*>\s*(.*?)\s*</title', 1)) AS title,
      trim(regexp_extract(block, '(?is)<link[^>]*>\s*(.*?)\s*</link', 1)) AS link,
      trim(regexp_extract(block, '(?is)<pubdate[^>]*>\s*(.*?)\s*</pubdate', 1))
        AS pub_date
    FROM e
    """,
)
def rss_channel_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS 2.0 item parsing (operators/feeds.py rss_items): block-level
    <item> extraction then per-block field regexes. Even docs carry a
    second uppercase <ITEM> with title and pubDate absent ('' per the
    metadata.py convention); channel-level <title>/<link> sit outside
    item blocks and must not leak in. Oracle replays block + field
    regexes with DuckDB RE2 and zip-unnests positional indices."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    did = F.col("doc_id")
    hostn = (did % 5).cast("string")
    second = F.concat(
        F.lit("<ITEM><link>https://h"), hostn, F.lit(".example/q"),
        did.cast("string"), F.lit("</link></ITEM>"),
    )
    xml = F.concat(
        F.lit("<rss><channel><title>Chan</title><link>https://c.example/</link>"),
        F.lit("<item><title> Doc "), did.cast("string"),
        F.lit(" news </title><link>https://h"), hostn, F.lit(".example/p"),
        did.cast("string"), F.lit("</link><pubDate>Mon, 0"),
        (did % 9 + 1).cast("string"), F.lit(" Jan 2024</pubDate></item>"),
        F.when(did % 2 == 0, second).otherwise(F.lit("")),
        F.lit("</channel></rss>"),
    )
    feeds = d.select(
        F.concat(F.lit("feed://"), did.cast("string")).alias("url"),
        xml.alias("xml_text"),
    )
    from .operators.feeds import rss_items as _ri

    return _ri(feeds)


@query(
    "sitemap_shapes",
    r"""
    WITH s AS (
      SELECT 'sm://' || CAST(doc_id AS VARCHAR) AS id, doc_id,
        CASE WHEN doc_id % 2 = 0 THEN
          '<urlset><url><loc>https://h' || CAST(doc_id % 5 AS VARCHAR)
          || '.example/a' || CAST(doc_id AS VARCHAR)
          || '</loc><lastmod>2024-01-02</lastmod></url><url><loc>'
          || chr(10) || ' https://h' || CAST(doc_id % 5 AS VARCHAR)
          || '.example/b' || CAST(doc_id AS VARCHAR) || ' </loc></url></urlset>'
        ELSE
          '<sitemapindex><sitemap><loc>https://h'
          || CAST(doc_id % 5 AS VARCHAR) || '.example/sm'
          || CAST(doc_id AS VARCHAR) || '.xml</loc></sitemap></sitemapindex>'
        END AS xml
      FROM documents WHERE doc_id < 50
    ), k AS (
      SELECT id, 'url' AS kind,
        regexp_extract_all(xml, '(?is)<url[\s>].*?</url>', 0) AS blocks
      FROM s
      UNION ALL
      SELECT id, 'sitemap',
        regexp_extract_all(xml, '(?is)<sitemap[\s>].*?</sitemap>', 0)
      FROM s
    ), e AS (
      SELECT id, kind,
        unnest(range(1, len(blocks) + 1)) AS entry_idx,
        unnest(blocks) AS block
      FROM k
    )
    SELECT id, kind, CAST(entry_idx AS BIGINT) AS entry_idx,
      trim(regexp_extract(block, '(?is)<loc[^>]*>\s*(.*?)\s*</loc', 1)) AS loc,
      trim(regexp_extract(block, '(?is)<lastmod[^>]*>\s*(.*?)\s*</lastmod', 1))
        AS lastmod
    FROM e
    """,
)
def sitemap_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing, BOTH document shapes in one pass (operators/
    feeds.py sitemap_entries): even docs are urlset pages (two <url>
    entries, one whitespace-padded loc, one missing lastmod), odd docs
    are sitemapindex documents pointing at child sitemaps the frontier
    must fetch next. A urlset page contributes zero kind='sitemap' rows
    and vice versa — the oracle replays both block regexes and unions."""
    from .operators.feeds import sitemap_entries

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    did = F.col("doc_id")
    hostn = (did % 5).cast("string")
    urlset = F.concat(
        F.lit("<urlset><url><loc>https://h"), hostn, F.lit(".example/a"),
        did.cast("string"),
        F.lit("</loc><lastmod>2024-01-02</lastmod></url><url><loc>\n https://h"),
        hostn, F.lit(".example/b"), did.cast("string"),
        F.lit(" </loc></url></urlset>"),
    )
    smindex = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://h"), hostn,
        F.lit(".example/sm"), did.cast("string"),
        F.lit(".xml</loc></sitemap></sitemapindex>"),
    )
    docs = d.select(
        F.concat(F.lit("sm://"), did.cast("string")).alias("url"),
        F.when(did % 2 == 0, urlset).otherwise(smindex).alias("xml_text"),
    )
    return sitemap_entries(docs)


# ===========================================================================
# JSON-LD structured data (operators/metadata.py page_jsonld)
# ===========================================================================


@query(
    "page_jsonld_fields",
    r"""
    WITH p AS (
      SELECT 'page://' || CAST(doc_id AS VARCHAR) AS url,
        CASE WHEN doc_id % 5 = 4 THEN '<html><body>no ld</body></html>'
          WHEN doc_id % 5 = 3 THEN
            '<html><script type="application/ld+json">{broken'
            || CAST(doc_id AS VARCHAR) || '</script></html>'
          ELSE
            '<html><head><SCRIPT type=''application/ld+json''> {"@type": "'
            || CASE WHEN doc_id % 2 = 0 THEN 'NewsArticle' ELSE 'BlogPosting' END
            || '", "headline": "Doc ' || CAST(doc_id AS VARCHAR)
            || '", "datePublished": "2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR)
            || '-01"'
            || CASE WHEN doc_id % 3 = 0 THEN
                 ', "author": {"name": "W' || CAST(doc_id % 4 AS VARCHAR) || '"}'
               ELSE '' END
            || '} </script><script type="application/ld+json">'
            || '{"@type": "Decoy"}</script></head></html>'
        END AS html
      FROM documents WHERE doc_id < 70
    ), b AS (
      SELECT url,
        trim(regexp_extract(html,
          '(?is)<script\s[^>]*type\s*=\s*["'']application/ld\+json["'']'
          || '[^>]*>(.*?)</script', 1)) AS blk
      FROM p
    )
    SELECT url,
      CASE WHEN json_valid(blk) THEN json_extract_string(blk, '$."@type"') END
        AS jsonld_type,
      CASE WHEN json_valid(blk) THEN json_extract_string(blk, '$.headline') END
        AS headline,
      CASE WHEN json_valid(blk)
        THEN json_extract_string(blk, '$.datePublished') END AS date_published,
      CASE WHEN json_valid(blk)
        THEN json_extract_string(blk, '$.author.name') END AS author_name
    FROM b
    """,
)
def page_jsonld_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD extraction (operators/metadata.py page_jsonld):
    first-ld+json-block regex (uppercase tag, single-quoted attr, a
    second Decoy block that must lose first-match), then native
    get_json_object field pulls. doc_id%5 plants broken-JSON and
    no-block pages — every field NULL for both, per the
    null-on-anything contract; %3 controls nested author presence.
    Oracle guards DuckDB's stricter json functions behind json_valid."""
    from .operators.metadata import page_jsonld

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 70)
    did = F.col("doc_id")
    author = F.concat(
        F.lit(', "author": {"name": "W'), (did % 4).cast("string"), F.lit('"}'),
    )
    valid = F.concat(
        F.lit("<html><head><SCRIPT type='application/ld+json'> {\"@type\": \""),
        F.when(did % 2 == 0, F.lit("NewsArticle")).otherwise(F.lit("BlogPosting")),
        F.lit('", "headline": "Doc '), did.cast("string"),
        F.lit('", "datePublished": "2024-0'), (did % 9 + 1).cast("string"),
        F.lit('-01"'),
        F.when(did % 3 == 0, author).otherwise(F.lit("")),
        F.lit('} </script><script type="application/ld+json">'),
        F.lit('{"@type": "Decoy"}</script></head></html>'),
    )
    broken = F.concat(
        F.lit('<html><script type="application/ld+json">{broken'),
        did.cast("string"), F.lit("</script></html>"),
    )
    html = (
        F.when(did % 5 == 4, F.lit("<html><body>no ld</body></html>"))
        .when(did % 5 == 3, broken)
        .otherwise(valid)
    )
    pages = d.select(
        F.concat(F.lit("page://"), did.cast("string")).alias("url"),
        html.alias("html_text"),
    )
    return page_jsonld(pages).select(
        "url", "jsonld_type", "headline", "date_published", "author_name"
    )


@query(
    "source_quality_tiers",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
      FROM documents
    ), d AS (
      SELECT doc_id, source, CAST(len(l) AS BIGINT) AS toks,
             CASE WHEN len(l) > 0
                  THEN len(list_distinct(l)) / CAST(len(l) AS DOUBLE)
                  ELSE 0.0 END AS ttr
      FROM t
    ), s AS (
      SELECT source, round(avg(ttr), 6) AS source_score
      FROM d GROUP BY source
    ), tiered AS (
      SELECT source, source_score,
             CAST(ntile(4) OVER (ORDER BY source_score DESC, source)
                  AS BIGINT) AS source_tier
      FROM s
    )
    SELECT d.doc_id, d.source, tiered.source_score, tiered.source_tier
    FROM d JOIN tiered USING (source)
    """,
)
def source_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level quality prior (operators/tiers.py): mean type-token
    ratio per source (6 dp), sources cut into 4 quality tiers by a
    window over the 20-row source table, tier broadcast-joined back to
    every document. Both engines tokenize, score, tier and join
    independently and must agree on every document's source score and
    tier — covering the rollup, the deterministic tie-broken ntile cut,
    and the join-back."""
    from .operators.tiers import docs_with_source_tier

    d = _t(spark, sf_dir, "documents")
    return docs_with_source_tier(d, "doc_id", "text", "source", 4).select(
        F.col("id").alias("doc_id"),
        F.col("grp").alias("source"),
        "source_score",
        "source_tier",
    )


def _capture_drift_oracle() -> str:
    votes = []
    for b in range(16):
        hexpos = b // 4 + 1
        div = 2 ** (b % 4)
        nib = f"(strpos('0123456789abcdef', substr(hh, {hexpos}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {div}.0) AS BIGINT) % 2)"
        votes.append(f"SUM({bit} * 2 - 1) AS v{b}")
    fp = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(16))
    return f"""
    WITH caps AS (
      SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
             CAST(k.k AS BIGINT) AS ts,
             coalesce(array_to_string(
               (string_split(lower(text), ' '))
                 [k.k * 10 + 1 : len(string_split(lower(text), ' '))], ' '),
               '') AS cap_text
      FROM documents, (SELECT unnest(generate_series(0, 2)) AS k) k
      WHERE doc_id < 100 AND k.k <= doc_id % 3
    ), tok AS (
      SELECT url, ts, unnest(string_split(cap_text, ' ')) AS tok FROM caps
    ), h AS (SELECT url, ts, md5(tok) AS hh FROM tok),
    bits AS (SELECT url, ts, {", ".join(votes)} FROM h GROUP BY url, ts),
    sim AS (SELECT url, ts, CAST({fp} AS BIGINT) AS simhash FROM bits),
    lagged AS (
      SELECT url, ts, simhash,
             lag(simhash) OVER (PARTITION BY url ORDER BY ts) AS prev_h,
             lag(ts) OVER (PARTITION BY url ORDER BY ts) AS prev_ts
      FROM sim
    )
    SELECT url, prev_ts, ts,
           CAST(bit_count(xor(prev_h, simhash)) AS BIGINT) AS hamming,
           CAST(CASE WHEN bit_count(xor(prev_h, simhash)) >= 3
                THEN 1 ELSE 0 END AS BIGINT) AS changed
    FROM lagged WHERE prev_h IS NOT NULL
    """


@query("capture_drift_stats", _capture_drift_oracle())
def capture_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot content drift (operators/dedup.py capture_drift):
    each document becomes 1-3 captures whose text drops 10 more leading
    tokens per snapshot; both engines compute a 16-bit simhash per
    (url, capture), lag it over capture order, and measure the hamming
    distance of consecutive snapshots — the crawl revisit-scheduling /
    incremental-ingest signal. Scores, distances and changed verdicts
    must match row-for-row, including same-text edge cases (drift 0) and
    captures whose slice runs past the text (empty-token capture)."""
    from .operators.dedup import capture_drift

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    did = F.col("doc_id")
    toks = F.split(F.lower(F.col("text")), " ")
    caps = (
        d.select(
            F.concat(F.lit("doc://"), did.cast("string")).alias("url"),
            (did % 3).alias("_max_k"),
            "text",
        )
        .withColumn("ts", F.explode(F.sequence(F.lit(0), F.col("_max_k"))))
        .withColumn("ts", F.col("ts").cast("long"))
        .select(
            "url",
            "ts",
            F.concat_ws(
                " ", F.slice(toks, F.col("ts") * 10 + 1, F.size(toks))
            ).alias("cap_text"),
        )
    )
    return capture_drift(caps, "url", "ts", "cap_text", changed_bits=3)


@query(
    "redirect_resolution",
    r"""
    WITH RECURSIVE edges AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
             'u' || CAST(doc_id + 1 AS VARCHAR) AS dst
      FROM documents WHERE doc_id < 80 AND doc_id % 4 <> 3
      UNION ALL
      SELECT 'c' || CAST(doc_id AS VARCHAR),
             'c' || CAST((doc_id + 1) % 3 AS VARCHAR)
      FROM documents WHERE doc_id < 3
    ), walk AS (
      SELECT src, dst AS cur, 1 AS hops FROM edges
      UNION ALL
      SELECT w.src, e.dst, w.hops + 1
      FROM walk w JOIN edges e ON w.cur = e.src
      WHERE w.hops < 32
    ), terminal AS (
      SELECT w.src, w.cur AS final_url, CAST(w.hops AS BIGINT) AS hops
      FROM walk w LEFT JOIN edges e ON w.cur = e.src
      WHERE e.src IS NULL
    )
    SELECT s.src, t.final_url, t.hops,
           CAST(CASE WHEN t.src IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS resolved
    FROM (SELECT DISTINCT src FROM edges) s
    LEFT JOIN terminal t USING (src)
    """,
)
def redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/links.py resolve_redirects):
    HTTP 3xx chains built from documents (length-1..3 linear chains plus
    a deliberate 3-cycle) resolved to their terminal url by pointer
    doubling — 5 composing equi-joins cover 32 hops where the oracle's
    recursive CTE walks step by step. Terminal urls, exact hop counts
    and the loop's unresolved verdict (NULL final/hops, resolved=0)
    must match row-for-row."""
    from .operators.links import resolve_redirects

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    linear = d.filter((did < 80) & (did % 4 != 3)).select(
        F.concat(F.lit("u"), did.cast("string")).alias("src"),
        F.concat(F.lit("u"), (did + 1).cast("string")).alias("dst"),
    )
    cyc = d.filter(did < 3).select(
        F.concat(F.lit("c"), did.cast("string")).alias("src"),
        F.concat(F.lit("c"), ((did + 1) % 3).cast("string")).alias("dst"),
    )
    return resolve_redirects(linear.unionByName(cyc), "src", "dst", 32)


@query(
    "weighted_doc_sample",
    r"""
    WITH c AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 0.5) / 4294967296.0,
                 1.0 / n_chars) AS k
      FROM documents WHERE n_chars > 0
    ), r AS (
      SELECT doc_id AS id, weight, k,
             row_number() OVER (ORDER BY k DESC, id) AS rn
      FROM c
    )
    SELECT id, weight, round(k, 6) AS es_key, CAST(rn AS BIGINT) AS sample_rank
    FROM r WHERE rn <= 50
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass weighted sampling without replacement (operators/
    sampling.py weighted_sample, Efraimidis-Spirakis): 50 documents
    drawn proportional to length via key = u**(1/weight) top-k, u an
    md5-derived uniform. Both engines compute the keys from the same
    hash bytes and must select the identical 50 documents in the
    identical rank order (6-dp key match)."""
    from .operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, k=50, weight_col="n_chars", id_col="doc_id")


@query(
    "bitext_url_pairs",
    r"""
    WITH u AS (
      SELECT 'https://h' || CAST((doc_id // 4) % 7 AS VARCHAR)
             || '.example/'
             || CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                                WHEN 2 THEN 'de' ELSE 'plain' END
             || '/page/' || CAST(doc_id // 4 AS VARCHAR) AS url
      FROM documents WHERE doc_id < 120
    ), parts AS (
      SELECT url,
        regexp_extract(url, '^(https?://[^/]+)/([a-z]{2})/(.*)$', 2) AS lang,
        regexp_extract(url, '^(https?://[^/]+)/([a-z]{2})/(.*)$', 1)
          || '/{lang}/'
          || regexp_extract(url, '^(https?://[^/]+)/([a-z]{2})/(.*)$', 3)
          AS skeleton
      FROM u
    ), s AS (
      SELECT url, lang, skeleton FROM parts
      WHERE lang IN ('en', 'fr', 'de', 'es', 'it', 'pt', 'nl', 'pl', 'ru', 'tr')
    )
    SELECT a.skeleton, a.lang AS lang_a, b.lang AS lang_b,
           a.url AS url_a, b.url AS url_b
    FROM s a JOIN s b ON a.skeleton = b.skeleton AND a.lang < b.lang
    """,
)
def bitext_url_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining from URL structure (operators/urls.py
    bitext_url_pairs): documents become urls under en/fr/de language
    path segments (every 4th url has no language segment and must drop
    out), and urls differing only in that segment pair up via a skeleton
    equi-join — the ParaCrawl/CCMatrix prelude. Skeletons, ordered lang
    pairs and both member urls must match row-for-row."""
    from .operators.urls import bitext_url_pairs as mine_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    did = F.col("doc_id")
    page = F.expr("doc_id div 4")
    lang = (
        F.when(did % 4 == 0, F.lit("en"))
        .when(did % 4 == 1, F.lit("fr"))
        .when(did % 4 == 2, F.lit("de"))
        .otherwise(F.lit("plain"))
    )
    urls = d.select(
        F.concat(
            F.lit("https://h"), (page % 7).cast("string"),
            F.lit(".example/"), lang, F.lit("/page/"), page.cast("string"),
        ).alias("url")
    )
    return mine_pairs(urls)


@query(
    "heading_outline_paths",
    r"""
    WITH pages AS (
      SELECT 'https://h' || CAST(doc_id % 9 AS VARCHAR) || '.example/d/'
               || CAST(doc_id AS VARCHAR) AS url,
             '<html><body><h1>A ' || substr(text, 1, 8)
             || '</h1><p>intro paragraph text</p>'
             || CASE WHEN doc_id % 3 = 0
                     THEN '<h2 class="s">B ' || substr(text, 9, 6)
                          || '</h2><h3>C deep</h3>'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 0 THEN '<h2>D side</h2>' ELSE '' END
             || '<h1>E ' || CAST(doc_id % 5 AS VARCHAR) || '</h1>'
             || CASE WHEN doc_id % 2 = 0 THEN '<h3>F tail</h3>' ELSE '' END
             || '</body></html>' AS html
      FROM documents WHERE doc_id < 300
    ), ext AS (
      SELECT url,
             regexp_extract_all(html,
               '(?is)<h([1-6])[^>]*>(.*?)</h[1-6]\s*>', 1) AS lvls,
             regexp_extract_all(html,
               '(?is)<h([1-6])[^>]*>(.*?)</h[1-6]\s*>', 2) AS txts
      FROM pages
    ), hs AS (
      SELECT url, CAST(u.i - 1 AS BIGINT) AS pos,
             CAST(lvls[u.i] AS INTEGER) AS level,
             trim(regexp_replace(regexp_replace(
               txts[u.i], '(?s)<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))
               AS heading
      FROM ext, unnest(range(1, len(lvls) + 1)) AS u(i)
    ), anc AS (
      SELECT url, pos, level, heading,
        last_value(CASE WHEN level = 1 THEN heading END IGNORE NULLS)
          OVER w AS lt1,
        last_value(CASE WHEN level = 1 THEN pos END IGNORE NULLS)
          OVER w AS lp1,
        last_value(CASE WHEN level = 2 THEN heading END IGNORE NULLS)
          OVER w AS lt2,
        last_value(CASE WHEN level = 2 THEN pos END IGNORE NULLS)
          OVER w AS lp2
      FROM hs
      WINDOW w AS (PARTITION BY url ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT url, pos, level, heading,
      concat_ws(' > ',
        CASE WHEN level > 1 AND lp1 IS NOT NULL THEN lt1 END,
        CASE WHEN level > 2 AND lp2 IS NOT NULL
              AND lp2 > (CASE WHEN level > 1 AND lp1 IS NOT NULL
                              THEN lp1 ELSE -1 END)
             THEN lt2 END
      ) AS section_path
    FROM anc
    """,
)
def heading_outline_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading hierarchy with the HTML5-outline reset rule (operators/
    content.py:heading_outline): documents become pages whose heading
    sequence exercises attribute-bearing tags, mixed levels, and the
    stale-ancestor case — the final <h3> must attach under the LAST <h1>
    and skip every <h2> that precedes that <h1>. The engine's single
    shared-window outline (one Exchange, ten last-ignorenulls exprs) must
    match the oracle's unrolled running-max CASE chain row-for-row.
    Section-aware chunking for RAG/training corpora is the consumer."""
    from .operators.content import heading_outline

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (did % 9).cast("string"),
        F.lit(".example/d/"), did.cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><h1>A "), F.substring("text", 1, 8),
        F.lit("</h1><p>intro paragraph text</p>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<h2 class="s">B '), F.substring("text", 9, 6),
                F.lit("</h2><h3>C deep</h3>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("<h2>D side</h2>")).otherwise(F.lit("")),
        F.lit("<h1>E "), (did % 5).cast("string"), F.lit("</h1>"),
        F.when(did % 2 == 0, F.lit("<h3>F tail</h3>")).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    return heading_outline(pages)


@query(
    "mojibake_repaired_docs",
    """
    WITH clean AS (
      SELECT doc_id,
        CASE doc_id % 3
          WHEN 0 THEN replace(text, 'a', '\u00e1')
          WHEN 1 THEN replace(text, 'e', '\u00e9')
                      || ' \u2014 9\u20ac tail'
          ELSE text END AS clean_text
      FROM documents WHERE doc_id < 400
    ), corr AS (
      SELECT doc_id, clean_text,
        CASE doc_id % 3
          WHEN 0 THEN replace(clean_text, '\u00e1', '\u00c3\u00a1')
          WHEN 1 THEN replace(replace(replace(clean_text,
                        '\u20ac', '\u00e2\u201a\u00ac'),
                        '\u2014', '\u00e2\u20ac\u201d'),
                        '\u00e9', '\u00c3\u00a9')
          ELSE clean_text END AS corrupted
      FROM clean
    )
    SELECT doc_id,
           CAST(corrupted <> clean_text AS INTEGER) AS detected,
           clean_text AS repaired
    FROM corr
    """,
)
def mojibake_repaired_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-encoded UTF-8 repair (operators/normalize.py:
    repair_mojibake): documents get Latin-1/cp1252-class damage applied
    NATIVELY (real encode/decode roundtrip + the cp1252 forward
    translate — not string replaces), then repaired; the oracle builds
    the same corruption from closed-form replace chains and asserts the
    repair recovers the injected clean text byte-for-byte, with ASCII
    docs (and docs where the injection was a no-op) passing through
    undetected. Exercises 2-byte (e-acute), 3-byte (em-dash, euro via
    cp1252 slots 0x80/0x82/0x94) sequences."""
    from .operators.normalize import (
        WIN1252_AS_C1,
        WIN1252_HIGH,
        mojibake_detected,
        repair_mojibake,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    m3 = F.col("doc_id") % 3
    clean = (
        F.when(m3 == 0, F.regexp_replace("text", "a", "\u00e1"))
        .when(
            m3 == 1,
            F.concat(
                F.regexp_replace("text", "e", "\u00e9"),
                F.lit(" \u2014 9\u20ac tail"),
            ),
        )
        .otherwise(F.col("text"))
    )
    # real damage: UTF-8 bytes re-read as Latin-1, then shown through the
    # cp1252 lens (forward translate of the C1 slots)
    corrupted = F.translate(
        F.decode(F.encode(clean, "UTF-8"), "ISO-8859-1"),
        WIN1252_AS_C1,
        WIN1252_HIGH,
    )
    return d.select(
        "doc_id",
        mojibake_detected(corrupted).cast("int").alias("detected"),
        repair_mojibake(corrupted).alias("repaired"),
    )


@query(
    "host_link_spam",
    """
    WITH edges AS (
      SELECT 'h' || CAST(doc_id % 12 AS VARCHAR) AS src_host,
             'h' || CAST((doc_id * 5 + 3) % 14 AS VARCHAR) AS dst_host,
             CAST(sum(doc_id % 3 + 1) AS BIGINT) AS n_links
      FROM documents
      WHERE doc_id < 200
        AND 'h' || CAST(doc_id % 12 AS VARCHAR)
            <> 'h' || CAST((doc_id * 5 + 3) % 14 AS VARCHAR)
      GROUP BY 1, 2
    ), outs AS (
      SELECT src_host AS host, COUNT(*) AS out_deg,
             CAST(sum(n_links) AS BIGINT) AS out_links
      FROM edges GROUP BY 1
    ), ins AS (
      SELECT dst_host AS host, COUNT(*) AS in_deg FROM edges GROUP BY 1
    ), rec AS (
      SELECT e1.src_host AS host, COUNT(*) AS recip_out
      FROM edges e1
      JOIN edges e2 ON e1.src_host = e2.dst_host
                   AND e1.dst_host = e2.src_host
      GROUP BY 1
    )
    SELECT coalesce(o.host, i.host) AS host,
           CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
           CAST(coalesce(o.out_links, 0) AS BIGINT) AS out_links,
           CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
           CAST(coalesce(r.recip_out, 0) AS BIGINT) AS recip_out,
           round(CAST(coalesce(r.recip_out, 0) AS DOUBLE)
                 / CAST(greatest(coalesce(o.out_deg, 0), 1) AS DOUBLE), 6)
             AS recip_frac,
           CAST(coalesce(r.recip_out, 0) * 2 >= coalesce(o.out_deg, 0)
                AND coalesce(o.out_deg, 0) >= 2 AS INTEGER) AS spam_flag
    FROM outs o
    FULL JOIN ins i ON o.host = i.host
    LEFT JOIN rec r ON coalesce(o.host, i.host) = r.host
    """,
)
def host_link_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-farm fingerprinting (operators/links.py:link_spam_signals)
    on the same deterministic host graph host_pagerank uses — the
    doc_id arithmetic guarantees reciprocal pairs (e.g. h1<->h8 via
    doc_ids 1 and 8), dangling targets (h12/h13, in-links only), and
    varied weights. Degrees, reciprocity counts/fractions and the
    integer-arithmetic spam verdict must match the oracle's swapped-key
    self-join row-for-row."""
    from .operators.links import link_spam_signals

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    src = F.concat(F.lit("h"), (did % 12).cast("string"))
    dst = F.concat(F.lit("h"), ((did * 5 + 3) % 14).cast("string"))
    edges = (
        d.select(src.alias("src_host"), dst.alias("dst_host"), did)
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.sum(F.col("doc_id") % 3 + 1).alias("n_links"))
    )
    return link_spam_signals(edges)


@query(
    "recrawl_schedule_plan",
    """
    WITH caps AS (
      SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
             CAST(1700000000 + k.k * 3600 * (1 + doc_id % 5) AS BIGINT)
               AS ts,
             md5(substr(text, 1, 24) || '#'
                 || CAST(k.k // 2 AS VARCHAR)) AS digest
      FROM documents, (SELECT unnest(generate_series(0, 3)) AS k) k
      WHERE doc_id < 150 AND k.k <= doc_id % 4
    ), lagged AS (
      SELECT url, ts,
             CASE WHEN lag(digest) OVER w IS NOT NULL
                   AND lag(digest) OVER w <> digest THEN 1 ELSE 0 END AS flip
      FROM caps WINDOW w AS (PARTITION BY url ORDER BY ts)
    ), agg AS (
      SELECT url, COUNT(*) AS n_caps, CAST(sum(flip) AS BIGINT) AS changes,
             CAST(max(ts) - min(ts) AS BIGINT) AS span_secs,
             max(ts) AS last_ts
      FROM lagged GROUP BY url
    ), calc AS (
      SELECT url, n_caps, changes, span_secs, last_ts,
             CASE WHEN n_caps > 1
                  THEN span_secs // (n_caps - 1) END AS avg_gap_secs,
             CASE WHEN n_caps = 1 THEN 86400
                  WHEN changes = 0
                  THEN least((span_secs // (n_caps - 1)) * 4, 2592000)
                  ELSE greatest(least(span_secs // (2 * changes), 2592000),
                                3600)
             END AS next_gap_secs
      FROM agg
    )
    SELECT url, CAST(n_caps AS BIGINT) AS n_caps, changes,
           CASE WHEN n_caps > 1
                THEN round(CAST(changes AS DOUBLE) / (n_caps - 1), 6)
           END AS change_rate,
           CAST(avg_gap_secs AS BIGINT) AS avg_gap_secs,
           CAST(next_gap_secs AS BIGINT) AS next_gap_secs,
           CAST(last_ts + next_gap_secs AS BIGINT) AS next_fetch_ts
    FROM calc
    """,
)
def recrawl_schedule_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate-adaptive revisit scheduling (operators/recrawl.py):
    documents become 1-4 captures with per-url-constant gaps (1-5 h) and
    a digest that flips at the third capture, so the catalog covers
    single-capture urls (default gap), never-changed urls (4x backoff),
    and changed urls (revisit twice per expected change, clamped).
    Integer-seconds arithmetic end-to-end — the schedule must match the
    oracle EXACTLY, not approximately."""
    from .operators.recrawl import recrawl_schedule

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    did = F.col("doc_id")
    caps = (
        d.withColumn("k", F.explode(F.sequence(F.lit(0), did % 4)))
        .select(
            F.concat(F.lit("doc://"), did.cast("string")).alias("url"),
            (F.lit(1700000000) + F.col("k") * 3600 * (1 + did % 5))
            .cast("long")
            .alias("ts"),
            F.md5(
                F.concat(
                    F.substring("text", 1, 24),
                    F.lit("#"),
                    F.expr("k div 2").cast("string"),
                )
            ).alias("digest"),
        )
    )
    return recrawl_schedule(caps)


@query(
    "vocab_zipf_fit",
    """
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    ), counts AS (
      SELECT tok, COUNT(*) AS n FROM toks WHERE tok <> '' GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM counts
    ), top AS (
      SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS r
      FROM counts ORDER BY n DESC, tok LIMIT 500
    ), fit AS (
      SELECT regr_slope(ln(n), ln(r)) AS slope,
             regr_intercept(ln(n), ln(r)) AS icept,
             regr_r2(ln(n), ln(r)) AS r2,
             CAST(sum(n) AS BIGINT) AS top_tokens
      FROM top
    )
    SELECT n_types, n_tokens,
           round(slope, 6) AS zipf_slope,
           round(icept, 6) AS zipf_intercept,
           round(r2, 6) AS zipf_r2,
           round(CAST(top_tokens AS DOUBLE) / n_tokens, 6) AS top_coverage
    FROM fit, tot
    """,
)
def vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health Zipf diagnostics (operators/textstats.py:zipf_fit):
    both engines tokenize the full documents table, rank the top-500
    types deterministically (count desc, token asc), and fit ln(freq) on
    ln(rank) with their own regr_slope/intercept/r2 implementations —
    two independent OLS codepaths agreeing to 6dp, plus exact type/token
    totals and top-type coverage."""
    from .operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


@query(
    "bitext_sentence_align",
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS l
      FROM documents WHERE doc_id < 100
    ), dims AS (
      SELECT doc_id, l, least(4, (len(l) + 4) // 5) AS na FROM base
    ), achunks AS (
      SELECT doc_id, na, u.i AS idx,
             array_to_string(l[u.i * 5 + 1 : u.i * 5 + 5], ' ') AS sent_a
      FROM dims, unnest(range(0, na)) AS u(i)
    ), bchunks AS (
      SELECT doc_id, idx,
             CASE WHEN doc_id % 4 = 0 AND idx = 1
                  THEN upper(sent_a) || ' ' || upper(sent_a)
                  ELSE upper(sent_a) END AS sent_b
      FROM achunks WHERE idx < least(3, na)
    )
    SELECT 'p' || CAST(a.doc_id AS VARCHAR) AS pair_id,
           CAST(a.idx AS BIGINT) AS idx, a.sent_a, b.sent_b,
           CAST(length(a.sent_a) AS BIGINT) AS len_a,
           CAST(length(b.sent_b) AS BIGINT) AS len_b,
           CAST(greatest(length(a.sent_a), length(b.sent_b)) * 1
                  <= least(length(a.sent_a), length(b.sent_b)) * 2
                OR greatest(length(a.sent_a), length(b.sent_b)) <= 15
             AS INTEGER) AS aligned
    FROM achunks a JOIN bchunks b USING (doc_id, idx)
    """,
)
def bitext_sentence_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Church-baseline sentence alignment (operators/bitext.py):
    each document becomes an 'en' page of up to four 5-word sentences
    and a 'translation' of the first three, uppercased, with every 4th
    pair's second sentence doubled to break the length-ratio gate. The
    engine SPLITS the reconstructed texts back into sentences (testing
    the boundary regex + terminal-punct normalization for real), zips
    positionally, truncates to the shorter side, and applies the integer
    ratio gate; the oracle knows the chunks in closed form and must
    agree on every pair, length, and verdict."""
    from .operators.bitext import align_sentences

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    did = F.col("doc_id")
    l = F.split(F.col("text"), " ")
    na = F.least(F.lit(4).cast("long"), F.expr("(size(split(text, ' ')) + 4) div 5"))
    chunk = lambda i: F.array_join(F.slice(l, i * 5 + 1, 5), " ")  # noqa: E731
    achunks = F.transform(F.sequence(F.lit(0).cast("long"), na - 1), chunk)
    text_a = F.concat(F.array_join(achunks, ". "), F.lit("."))
    nb = F.least(F.lit(3).cast("long"), na)
    bchunk = lambda i: F.when(  # noqa: E731
        (did % 4 == 0) & (i == 1),
        F.concat(F.upper(chunk(i)), F.lit(" "), F.upper(chunk(i))),
    ).otherwise(F.upper(chunk(i)))
    bchunks = F.transform(F.sequence(F.lit(0).cast("long"), nb - 1), bchunk)
    text_b = F.concat(F.array_join(bchunks, "! "), F.lit("!"))
    pairs = d.select(
        F.concat(F.lit("p"), did.cast("string")).alias("pair_id"),
        text_a.alias("text_a"),
        text_b.alias("text_b"),
    )
    return align_sentences(pairs)


@query(
    "corpus_overlap_kmv",
    """
    WITH a AS (SELECT text FROM documents),
    b AS (
      SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 2 = 0
    ), ha AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
      FROM a ORDER BY h LIMIT 128
    ), hb AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) AS h
      FROM b ORDER BY h LIMIT 128
    ), u AS (
      SELECT coalesce(ha.h, hb.h) AS h,
             CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS in_a,
             CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS in_b
      FROM ha FULL JOIN hb ON ha.h = hb.h
      ORDER BY 1 LIMIT 128
    ), agg AS (
      SELECT COUNT(*) AS n_sketch, max(h) AS kth_hash,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_shared
      FROM u
    ), da AS (SELECT DISTINCT md5(text) AS d FROM a),
    db AS (SELECT DISTINCT md5(text) AS d FROM b),
    ex AS (
      SELECT (SELECT COUNT(*) FROM da) AS exact_a,
             (SELECT COUNT(*) FROM db) AS exact_b,
             (SELECT COUNT(*) FROM da JOIN db USING (d)) AS exact_inter
    )
    SELECT CAST(n_sketch AS BIGINT) AS n_sketch,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           round(CASE WHEN n_sketch < 128 THEN CAST(n_sketch AS DOUBLE)
                 ELSE (n_sketch - 1) * 281474976710656.0 / kth_hash END, 2)
             AS kmv_union_est,
           round(CAST(n_shared AS DOUBLE) / n_sketch, 6) AS kmv_jaccard,
           CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_inter AS BIGINT) AS exact_inter,
           round(CAST(exact_inter AS DOUBLE)
                 / (exact_a + exact_b - exact_inter), 6) AS exact_jaccard
    FROM agg, ex
    """,
)
def corpus_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV overlap sketch (operators/sketches.py): corpus A
    is the documents table; corpus B is its even half with every 10th
    text rewritten (the incremental-snapshot shape: mostly-shared, some
    drift). Both engines build the k=128 minimum-hash sketches from the
    SAME md5-derived 48-bit integers, so sketch size, k-th hash, union
    estimate and sketch-Jaccard must match EXACTLY — alongside the exact
    verification tier (full digest join) for calibration."""
    from .operators.sketches import kmv_overlap

    d = _t(spark, sf_dir, "documents")
    b = d.filter(F.col("doc_id") % 2 == 0).select(
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text")
    )
    return kmv_overlap(d, b, "text", k=128, include_exact=True)


@query(
    "host_skew_report",
    """
    WITH rows_t AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'hot.example'
                  ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example'
             END AS host
      FROM documents
    ), counts AS (
      SELECT host AS k, COUNT(*) AS c FROM rows_t GROUP BY host
    ), hot AS (
      SELECT k AS max_key FROM counts ORDER BY c DESC, k LIMIT 1
    ), agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(max(c) AS BIGINT) AS max_key_rows,
             quantile_cont(c, 0.99) AS p99
      FROM counts
    )
    SELECT n_rows, n_keys,
           round(CAST(n_rows AS DOUBLE) / n_keys, 4) AS avg_rows_per_key,
           max_key, max_key_rows,
           round(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top1_share,
           round(p99, 4) AS p99_key_rows,
           round(CAST(max_key_rows AS DOUBLE)
                 / (CAST(n_rows AS DOUBLE) / n_keys), 4) AS skew_ratio,
           CAST(greatest(1, CAST(ceil(CAST(max_key_rows AS DOUBLE)
                / greatest(p99, 1.0)) AS BIGINT)) AS BIGINT)
             AS suggested_salt
    FROM agg, hot
    """,
)
def host_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics (operators/salting.py:
    key_skew_report): a synthesized zipfian host column where every 3rd
    document piles onto one hot host. The report that decides whether
    the salted aggregation shapes are needed — totals, hot-key identity
    and share, exact p99 of key sizes, skew ratio and the ceil(max/p99)
    salt suggestion — must match the oracle exactly (percentile
    interpolation semantics pinned at 4dp, same as
    doc_length_quantiles)."""
    from .operators.salting import key_skew_report

    d = _t(spark, sf_dir, "documents")
    host = F.when(
        F.col("doc_id") % 3 == 0, F.lit("hot.example")
    ).otherwise(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".example"),
        )
    )
    return key_skew_report(d.select(host.alias("host")), "host")


@query(
    "incremental_stats_merge",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(min(length(text)) AS BIGINT) AS min_chars,
           CAST(max(length(text)) AS BIGINT) AS max_chars,
           round(CAST(sum(length(text)) AS DOUBLE) / COUNT(*), 6)
             AS avg_chars,
           round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_tokens
    FROM documents
    GROUP BY source
    """,
)
def incremental_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monoid-stats merge proof (operators/stats.py): the engine splits
    the corpus into three deliberately UNEVEN batches (doc_id mod 5 ∈
    {0}, {1,2}, {3,4} — one batch may even miss a source entirely),
    computes per-batch stats, and tree-merges them; the oracle computes
    the same stats from the full table in ONE pass. Identical rows prove
    stats(A∪B∪C) == merge(stats(A), stats(B), stats(C)) — the property
    that makes per-source accounting maintainable across 10^12-row
    incremental ingests instead of recomputed."""
    from .operators.stats import merge_stats, source_stats, with_derived

    d = _t(spark, sf_dir, "documents")
    m5 = F.col("doc_id") % 5
    batches = [
        d.filter(m5 == 0),
        d.filter((m5 == 1) | (m5 == 2)),
        d.filter((m5 == 3) | (m5 == 4)),
    ]
    merged = merge_stats(*[source_stats(b) for b in batches])
    return with_derived(merged)


@query(
    "contrastive_pairs",
    """
    WITH members AS (
      SELECT doc_id AS id, CAST(doc_id // 4 AS BIGINT) AS cluster
      FROM documents WHERE doc_id < 120
    ), ranked AS (
      SELECT id, cluster,
             row_number() OVER (
               PARTITION BY cluster
               ORDER BY md5('cp' || CAST(id AS VARCHAR)), id) AS rnk
      FROM members
    ), keep AS (SELECT * FROM ranked WHERE rnk <= 3),
    pos AS (
      SELECT a.id AS anchor_id, b.id AS positive_id,
             a.cluster AS cluster_id
      FROM keep a JOIN keep b ON a.cluster = b.cluster AND a.rnk < b.rnk
    ), cands AS (
      SELECT cluster AS cand_cluster,
             CAST(('0x' || substr(md5('cpb' || CAST(id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 16 AS bucket,
             md5('cpo' || CAST(id AS VARCHAR)) || '#'
               || CAST(id AS VARCHAR) AS ord_key
      FROM members
    ), probed AS (
      SELECT p.*,
             CAST(('0x' || substr(md5('cpa' || CAST(anchor_id AS VARCHAR)),
                                  1, 4)) AS BIGINT) % 16 AS pbucket
      FROM pos p
    ), neg AS (
      SELECT anchor_id, positive_id, cluster_id, min(c.ord_key) AS neg_key
      FROM probed LEFT JOIN cands c
        ON c.bucket = probed.pbucket
       AND c.cand_cluster <> probed.cluster_id
      GROUP BY 1, 2, 3
    )
    SELECT anchor_id, positive_id, cluster_id,
           CAST(string_split(neg_key, '#')[2] AS BIGINT) AS negative_id
    FROM neg
    """,
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (operators/similarity.py:
    mine_contrastive_pairs) over synthesized 4-member clusters with the
    representative cap at 3 (the 4th member must never appear):
    positives from hash-ranked intra-cluster pairs, negatives from a
    deterministic md5-bucket probe taking the hash-minimal
    different-cluster doc. Every triplet — ids, cluster, negative choice
    — must match the oracle's replay of the same hash algebra."""
    from .operators.similarity import mine_contrastive_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    members = d.select(
        "doc_id", F.expr("doc_id div 4").cast("long").alias("cluster_id")
    )
    return mine_contrastive_pairs(
        members, max_members=3, neg_buckets=16, salt="cp"
    )


@query(
    "oov_rate_by_source",
    """
    WITH toks AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    ), t2 AS (SELECT * FROM toks WHERE tok <> ''),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM t2 GROUP BY tok
        ORDER BY n DESC, tok LIMIT 200
      )
    ), per_doc AS (
      SELECT doc_id, source, COUNT(*) AS n_toks,
             sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM t2 LEFT JOIN vocab v USING (tok)
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(n_oov) AS BIGINT) AS n_oov,
           round(CAST(sum(n_oov) AS DOUBLE) / sum(n_toks), 6) AS oov_rate,
           round(max(CAST(n_oov AS DOUBLE) / n_toks), 6)
             AS max_doc_oov_rate
    FROM per_doc GROUP BY source
    """,
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage gate (operators/textstats.py:oov_rate_by_group)
    against a top-200 corpus-learned vocabulary (build_vocab): per-source
    micro-averaged OOV rate (integer sums — no float-order drift) and
    the worst single document. Both engines learn the vocab, probe
    membership and aggregate independently."""
    from .operators.textstats import build_vocab, oov_rate_by_group

    d = _t(spark, sf_dir, "documents")
    return oov_rate_by_group(d, build_vocab(d, k=200))


ORACLES["lang_label_agreement"] = (
    "WITH pred AS (" + _LANG_ID_ORACLE + "), "
    "j AS (SELECT d.source, d.lang, p.lang_pred "
    "      FROM documents d JOIN pred p USING (doc_id)) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_agree, "
    "  round(CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) "
    "        AS DOUBLE) / COUNT(*), 6) AS agreement_rate "
    "FROM j GROUP BY source"
)


@query("lang_label_agreement", None)  # oracle attached above (shared CTE)
def lang_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-detector audit (CCNet's sanity check before trusting
    either): per source, how often the table's ``lang`` label agrees
    with the engine's stopword-argmax detector
    (operators/textstats.py:lang_id). A source whose agreement collapses
    is mislabeled or off-profile and needs review before lang-routed
    curation. Composition query: the lang_id oracle CTE is REUSED
    verbatim so the two catalog entries can never drift apart."""
    d = _t(spark, sf_dir, "documents")
    agree = (F.col("lang") == textstats.lang_id(F.col("text"))).cast("int")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(agree).cast("long").alias("n_agree"),
        F.round(
            F.sum(agree).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("agreement_rate"),
    )


@query(
    "syndicated_title_clusters",
    """
    WITH pages AS (
      SELECT 'https://h' || CAST(doc_id % 11 AS VARCHAR) || '.example/a/'
               || CAST(doc_id AS VARCHAR) AS url,
             '<html><head><title>  Story ' || CAST(doc_id % 30 AS VARCHAR)
               || CASE WHEN doc_id % 2 = 0 THEN ': The  UPDATE!'
                       ELSE ': the update' END
               || '</title></head><body>x</body></html>' AS html
      FROM documents WHERE doc_id < 240
    ), t AS (
      SELECT url,
             regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)
               AS title
      FROM pages
    ), k AS (
      SELECT url,
             trim(regexp_replace(regexp_replace(lower(title),
                  '[^a-z0-9 ]', ' ', 'g'), '\\s+', ' ', 'g')) AS title_key,
             regexp_extract(url, '^https?://([^/]+)', 1) AS host
      FROM t
    )
    SELECT title_key,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           min(url) AS first_url
    FROM k GROUP BY title_key HAVING COUNT(*) >= 2
    """,
)
def syndicated_title_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syndication detection by normalized title (the news-wire dedup
    key: the same AP story under 30 mastheads): titles extracted with
    the engine's metadata regex, normalized (lowercase, punctuation →
    space, whitespace collapse — case/punct variants MUST collide),
    grouped across hosts, singletons dropped. Cluster keys, sizes,
    distinct-host counts and representative urls must match."""
    from .operators.metadata import page_title

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 240)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (did % 11).cast("string"),
        F.lit(".example/a/"), did.cast("string"),
    )
    html = F.concat(
        F.lit("<html><head><title>  Story "), (did % 30).cast("string"),
        F.when(did % 2 == 0, F.lit(": The  UPDATE!")).otherwise(
            F.lit(": the update")
        ),
        F.lit("</title></head><body>x</body></html>"),
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    title_key = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(page_title(F.col("html"))), "[^a-z0-9 ]", " "),
            r"\s+",
            " ",
        )
    )
    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    return (
        pages.select(title_key.alias("title_key"), host.alias("host"), "url")
        .groupBy("title_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.min("url").alias("first_url"),
        )
        .where(F.col("n_pages") >= 2)
    )


def _trustprop_oracle(
    edges_cte: str, seeds_cte: str, iters: int, alpha: float
) -> str:
    """Unrolled-CTE DuckDB mirror of labelprop.propagate_trust (biased
    seed restart, weighted out-edge split, trust absorbed at dangling
    hosts). Same unrolling rationale as _pagerank_oracle."""
    parts = [
        f"WITH {edges_cte},",
        f"{seeds_cte},",
        "outw AS (SELECT src_host, CAST(sum(n_links) AS DOUBLE) AS out_weight"
        " FROM edges GROUP BY src_host),",
        "nodes AS (SELECT DISTINCT host FROM ("
        "  SELECT src_host AS host FROM edges"
        "  UNION ALL SELECT dst_host FROM edges"
        "  UNION ALL SELECT host FROM seeds)),",
        "sv AS (SELECT n.host, coalesce(s.seed, 0.0) AS seed"
        " FROM nodes n LEFT JOIN seeds s ON n.host = s.host),",
        "t0 AS (SELECT host, seed, seed AS score FROM sv),",
    ]
    for i in range(iters):
        parts.append(
            f"c{i} AS (SELECT e.dst_host AS host,"
            " sum(t.score * e.n_links / o.out_weight) AS in_mass"
            f" FROM t{i} t JOIN edges e ON t.host = e.src_host"
            " JOIN outw o ON o.src_host = e.src_host GROUP BY e.dst_host),"
        )
        parts.append(
            f"t{i + 1} AS (SELECT s.host, s.seed,"
            f" (1 - {alpha}) * s.seed"
            f" + {alpha} * coalesce(c.in_mass, 0.0) AS score"
            f" FROM sv s LEFT JOIN c{i} c ON s.host = c.host),"
        )
    parts.append(
        f"final AS (SELECT host, score FROM t{iters})"
        " SELECT host, round(score, 7) AS trust_r FROM final"
    )
    return "\n".join(parts)


_TRUST_SEEDS_CTE = """seeds AS (
  SELECT 'h0' AS host, 1.0 AS seed
  UNION ALL SELECT 'h1', 1.0
  UNION ALL SELECT 'h5', 0.5)"""


@query("host_trust_propagation", None)  # oracle attached below (generated)
def host_trust_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank-style seeded trust propagation (operators/labelprop.py)
    on the SAME deterministic host graph as host_pagerank — two hand-
    trusted hosts (h0, h1) and one half-trusted (h5), 3 synchronous
    iterations, alpha 0.85. Sharing the edge synthesis with host_pagerank
    pins both graph algorithms to one graph, so the two oracles can never
    drift onto different inputs. Scores matched to 7 decimals (same
    double-sum-ordering argument as the PageRank oracle). Extends the
    reference's per-document quality surface (src/document_parser.py
    classify step) with the host-level prior a crawl-scale corpus needs."""
    from .operators.labelprop import propagate_trust

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    src = F.concat(F.lit("h"), (did % 12).cast("string"))
    dst = F.concat(F.lit("h"), ((did * 5 + 3) % 14).cast("string"))
    edges = (
        d.select(src.alias("src_host"), dst.alias("dst_host"), did)
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.sum(F.col("doc_id") % 3 + 1).alias("n_links"))
    )
    seeds = spark.createDataFrame(
        [("h0", 1.0), ("h1", 1.0), ("h5", 0.5)], "host string, seed double"
    )
    trust = propagate_trust(edges, seeds, iterations=3, alpha=0.85)
    return trust.select("host", F.round("trust", 7).alias("trust_r"))


ORACLES["host_trust_propagation"] = _trustprop_oracle(
    _PR_EDGES_CTE, _TRUST_SEEDS_CTE, 3, 0.85
)


def _lr_fit_oracle(
    n_buckets: int, iters: int, lr: float, label_sql: str, where_sql: str
) -> str:
    """Unrolled-CTE DuckDB mirror of ml/lr_dataflow.lr_fit_dataflow:
    hashed-unigram rate features, zero init, full-batch mean-gradient
    descent on sigmoid log-loss. Each iteration is four CTEs (margins,
    probabilities folded in, per-bucket gradient, weight/bias update) —
    an iterative ML trainer expressed as SQL, the same cross-engine
    discipline as _pagerank_oracle."""
    hexd = "'0123456789abcdef'"
    bucket = (
        f"((strpos({hexd}, substr(md5(token), 1, 1)) - 1) * 16"
        f" + (strpos({hexd}, substr(md5(token), 2, 1)) - 1)) % {n_buckets}"
    )
    parts = [
        "WITH raw AS (SELECT doc_id, unnest(string_split(lower(text), ' '))"
        f" AS token FROM documents{where_sql}),",
        "t AS (SELECT * FROM raw WHERE token <> ''),",
        "n AS (SELECT doc_id, count(*)::DOUBLE AS nt FROM t GROUP BY doc_id),",
        f"bk AS (SELECT doc_id, {bucket} AS bucket FROM t),",
        "x AS (SELECT bk.doc_id, bucket, count(*)::DOUBLE / any_value(nt) AS x"
        " FROM bk JOIN n ON bk.doc_id = n.doc_id GROUP BY bk.doc_id, bucket),",
        f"docs AS (SELECT doc_id, {label_sql} AS y FROM documents"
        f"{where_sql + ' AND' if where_sql else ' WHERE'}"
        " doc_id IN (SELECT doc_id FROM n)),",
        "nd AS (SELECT count(*)::DOUBLE AS n_docs FROM docs),",
        f"w0 AS (SELECT CAST(range AS INT) AS bucket, 0.0 AS w"
        f" FROM range(0, {n_buckets})),",
        "b0 AS (SELECT 0.0 AS b),",
    ]
    for i in range(iters):
        parts.append(
            f"m{i} AS (SELECT d.doc_id, d.y,"
            " 1 / (1 + exp(-((SELECT b FROM b" + str(i) + ")"
            " + coalesce(s.m, 0.0)))) AS p"
            " FROM docs d LEFT JOIN"
            f" (SELECT x.doc_id, sum(x.x * w.w) AS m FROM x"
            f"  JOIN w{i} w ON x.bucket = w.bucket GROUP BY x.doc_id) s"
            " ON d.doc_id = s.doc_id),"
        )
        parts.append(
            f"g{i} AS (SELECT x.bucket,"
            " sum((m.p - m.y) * x.x) / (SELECT n_docs FROM nd) AS g"
            f" FROM x JOIN m{i} m ON x.doc_id = m.doc_id GROUP BY x.bucket),"
        )
        parts.append(
            f"w{i + 1} AS (SELECT w.bucket, w.w - {lr} * coalesce(g.g, 0.0)"
            f" AS w FROM w{i} w LEFT JOIN g{i} g ON w.bucket = g.bucket),"
        )
        parts.append(
            f"b{i + 1} AS (SELECT (SELECT b FROM b{i})"
            f" - {lr} * sum(p - y) / (SELECT n_docs FROM nd) AS b"
            f" FROM m{i}),"
        )
    parts.append(
        f"final AS (SELECT CAST(bucket AS BIGINT) AS bucket, w FROM w{iters}"
        f" UNION ALL SELECT -1, b FROM b{iters})"
        " SELECT bucket, round(w, 6) AS w_r FROM final"
    )
    return "\n".join(parts)


@query("lr_langid_fit", None)  # oracle attached below (generated)
def lr_langid_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression (ml/lr_dataflow.py) predicting
    lang='en' from 16 hashed-unigram rate features — the fastText-style
    quality/language classifier shape of DCLM/CCNet curation, trained as
    pure dataflow: zero-shuffle featurization (HOFs over the token
    array), one tree-aggregated gradient pass per iteration, model state
    (17 doubles) on the driver. 3 full-batch steps, lr=1.0, weights
    published at 6 decimals; bucket -1 carries the bias. The oracle
    unrolls the identical algebra as chained DuckDB CTEs."""
    from .ml.lr_dataflow import hashed_token_features, lr_fit_dataflow

    d = _t(spark, sf_dir, "documents")
    feats = hashed_token_features(
        d, label_col=(F.col("lang") == "en"), n_buckets=16
    )
    weights, bias = lr_fit_dataflow(feats, n_buckets=16, iterations=3, lr=1.0)
    rows = [(b, w) for b, w in enumerate(weights)] + [(-1, bias)]
    model = spark.createDataFrame(rows, "bucket long, w double")
    return model.select("bucket", F.round("w", 6).alias("w_r"))


ORACLES["lr_langid_fit"] = _lr_fit_oracle(
    16, 3, 1.0, "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END", ""
)


@query(
    "margin_bitext_pairs",
    f"""
    WITH a AS (SELECT vec_id AS a_id, embedding AS qv FROM embeddings
               WHERE vec_id < 120 AND vec_id % 2 = 0),
    b AS (SELECT vec_id AS b_id, embedding AS cv FROM embeddings
          WHERE vec_id < 120 AND vec_id % 2 = 1),
    s AS (SELECT a_id, b_id, {{COS}} AS cos FROM a, b),
    fk AS (SELECT a_id, avg(cos) AS fwd FROM (
             SELECT a_id, cos, row_number() OVER (
               PARTITION BY a_id ORDER BY cos DESC, b_id) AS r FROM s)
           WHERE r <= 4 GROUP BY a_id),
    bk AS (SELECT b_id, avg(cos) AS bwd FROM (
             SELECT b_id, cos, row_number() OVER (
               PARTITION BY b_id ORDER BY cos DESC, a_id) AS r FROM s)
           WHERE r <= 4 GROUP BY b_id),
    m AS (SELECT s.a_id, s.b_id,
                 round(s.cos / ((fwd + bwd) / 2), 6) AS margin
          FROM s JOIN fk USING (a_id) JOIN bk USING (b_id)),
    rk AS (SELECT a_id, b_id, margin,
                  row_number() OVER (PARTITION BY a_id
                                     ORDER BY margin DESC, b_id) AS fr,
                  row_number() OVER (PARTITION BY b_id
                                     ORDER BY margin DESC, a_id) AS br
           FROM m)
    SELECT a_id, b_id, margin, (br = 1) AS mutual
    FROM rk WHERE fr = 1 AND margin >= 1.0
    """.replace("{COS}", _COSINE_SQL),
)
def margin_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (operators/bitext.py,
    Artetxe-Schwenk ratio criterion) between two embedding pools (even
    vec_ids as the source language, odd as the target — a deterministic
    stand-in for two monolingual shards): per source vector its
    argmax-margin partner with margin >= 1.0 and a mutual-best flag.
    All-pairs verification tier; the scale path feeds the same algebra
    with LSH/IVF candidates. Cosines and margins rounded to 6 BEFORE
    ranking so ordering is engine-invariant."""
    from .operators.bitext import margin_mined_pairs

    e = _t(spark, sf_dir, "embeddings", rebalance=False).filter(
        F.col("vec_id") < 120
    )
    a = e.filter(F.col("vec_id") % 2 == 0)
    b = e.filter(F.col("vec_id") % 2 == 1)
    return margin_mined_pairs(a, b, k=4, threshold=1.0)


def _kmeans_oracle(
    n_vecs: int, dim: int, init_ids: list[int], iters: int
) -> str:
    """Unrolled-CTE DuckDB mirror of ml/kmeans_dataflow.kmeans_lloyd over
    the unnested (vec_id, dim, val) relation: per iteration a distance
    CTE (round 9 before the argmin — discrete decisions never ride on
    sub-round float noise), an argmin assignment, and a per-(cell,dim)
    mean with empty cells keeping their previous centroid."""
    seeds = " UNION ALL ".join(
        f"SELECT {c} AS cell, {vid} AS vid" for c, vid in enumerate(init_ids)
    )
    parts = [
        f"WITH e AS (SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id < {n_vecs}),",
        f"v AS (SELECT vec_id, range AS dim,"
        f" CAST(embedding[range] AS DOUBLE) AS val"
        f" FROM e, range(1, {dim + 1})),",
        f"seedmap AS ({seeds}),",
        "c0 AS (SELECT s.cell, v.dim, v.val AS w FROM seedmap s"
        " JOIN v ON v.vec_id = s.vid),",
    ]
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT v.vec_id, c.cell,"
            " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
            f" FROM v JOIN c{i} c ON v.dim = c.dim"
            " GROUP BY v.vec_id, c.cell),"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, cell FROM ("
            f"  SELECT vec_id, cell, row_number() OVER ("
            "     PARTITION BY vec_id ORDER BY dist, cell) AS r"
            f"  FROM d{i}) WHERE r = 1),"
        )
        parts.append(
            f"n{i} AS (SELECT a.cell, v.dim, avg(v.val) AS w"
            f" FROM a{i} a JOIN v ON v.vec_id = a.vec_id"
            " GROUP BY a.cell, v.dim),"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c.cell, c.dim, coalesce(n.w, c.w) AS w"
            f" FROM c{i} c LEFT JOIN n{i} n"
            " ON c.cell = n.cell AND c.dim = n.dim),"
        )
    parts.append(
        f"final AS (SELECT cell, dim, w FROM c{iters})"
        " SELECT CAST(cell AS BIGINT) AS cell, CAST(dim AS BIGINT) AS dim,"
        " round(w, 6) AS w_r FROM final"
    )
    return "\n".join(parts)


_KMEANS_INIT_IDS = [0, 7, 19, 23]


@query("kmeans_cell_centroids", None)  # oracle attached below (generated)
def kmeans_cell_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means as verified dataflow (ml/kmeans_dataflow.py):
    4 cells seeded from explicit vector ids, 2 synchronous iterations
    over the first 300 embeddings — the deterministic trainer behind an
    IVF coarse quantizer, with every assignment and mean re-derived by
    the unrolled DuckDB oracle. Output is the flattened (cell, dim,
    weight) centroid relation at 6 decimals; dims are 1-based to match
    SQL list indexing. Third iterative algorithm verified cross-engine
    (after host_pagerank and lr_langid_fit)."""
    from .ml.kmeans_dataflow import kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings", rebalance=False).filter(
        F.col("vec_id") < 300
    )
    cents = kmeans_lloyd(e, _KMEANS_INIT_IDS, iterations=2)
    rows = [
        (c, d + 1, w) for c, vec in enumerate(cents) for d, w in enumerate(vec)
    ]
    model = spark.createDataFrame(rows, "cell long, dim long, w double")
    return model.select("cell", "dim", F.round("w", 6).alias("w_r"))


ORACLES["kmeans_cell_centroids"] = _kmeans_oracle(300, 64, _KMEANS_INIT_IDS, 2)


@query(
    "unimax_lang_budget",
    """
    WITH k_tok AS (
      SELECT lang,
             CAST(sum(len(string_split(lower(text), ' '))) AS DOUBLE)
               AS n_tokens
      FROM documents GROUP BY lang),
    r AS (
      SELECT lang, n_tokens, n_tokens * 1.2 AS c,
             row_number() OVER (ORDER BY n_tokens * 1.2, lang) AS i,
             coalesce(sum(n_tokens * 1.2) OVER (
               ORDER BY n_tokens * 1.2, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prefix,
             count(*) OVER () AS k
      FROM k_tok),
    f AS (SELECT *, (c * (k - i + 1) <= 30000 - prefix) AS capped FROM r),
    p AS (SELECT coalesce(sum(CASE WHEN capped THEN c END), 0)
                   AS capped_mass,
                 sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) AS n_uncapped
          FROM f)
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens, capped,
           round(CASE WHEN capped THEN c
                      ELSE (30000 - capped_mass) / n_uncapped END, 4)
             AS alloc_tokens,
           round(CASE WHEN capped THEN c
                      ELSE (30000 - capped_mass) / n_uncapped END
                 / n_tokens, 4) AS epochs
    FROM f, p
    """,
)
def unimax_lang_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped language budgeting (operators/sampling.py):
    30k-token budget over the corpus's languages, at most 1.2 epochs per
    language — low-resource languages cap out and their leftover re-
    splits uniformly, the closed-form waterfilling computed by one window
    over the language table. Per-language token counts, capped flag,
    allocation and resulting epochs, floats at 4 decimals."""
    from .operators.sampling import unimax_allocation

    d = _t(spark, sf_dir, "documents")
    return unimax_allocation(d, budget_tokens=30000, max_epochs=1.2)


_HREFLANG_SQL_RE = (
    "(?is)<link\\s[^>]*rel\\s*=\\s*[\"']alternate[\"']"
    "[^>]*hreflang\\s*=\\s*[\"']([a-zA-Z0-9-]+)[\"']"
    "[^>]*href\\s*=\\s*[\"']([^\"']+)[\"']"
)


@query(
    "hreflang_translation_clusters",
    """
    WITH pages AS (
      SELECT 'https://s' || CAST(doc_id % 30 AS VARCHAR) || '.example/'
               || CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
                  ELSE 'de' END AS url,
             CASE WHEN doc_id % 7 = 0 THEN '<html><body>x</body></html>'
             ELSE
               '<link rel="alternate" hreflang="en" href="https://s'
                 || CAST(doc_id % 30 AS VARCHAR) || '.example/en">'
               || '<link rel="alternate" hreflang="fr" href="https://s'
                 || CAST(doc_id % 30 AS VARCHAR) || '.example/fr">'
               || '<link rel="alternate" hreflang="de" href="https://s'
                 || CAST(doc_id % 30 AS VARCHAR) || '.example/de">'
               || CASE WHEN doc_id % 3 = 0 THEN
                    '<link rel="alternate" hreflang="x-default"'
                    || ' href="https://s' || CAST(doc_id % 30 AS VARCHAR)
                    || '.example/en">'
                  ELSE '' END
             END AS html
      FROM documents WHERE doc_id < 180),
    alt AS (
      SELECT url,
             lower(unnest(regexp_extract_all(html, '{RE}', 1))) AS hreflang,
             unnest(regexp_extract_all(html, '{RE}', 2)) AS target
      FROM pages),
    sig AS (
      SELECT url,
             md5(array_to_string(list_sort(list(DISTINCT target)), chr(10)))
               AS group_key,
             list(DISTINCT hreflang) AS langs,
             list(DISTINCT target) AS targets
      FROM alt GROUP BY url)
    SELECT group_key,
           CAST(count(*) AS BIGINT) AS n_pages,
           min(url) AS first_url,
           array_to_string(list_sort(list_distinct(flatten(list(langs)))), ',')
             AS langs_csv,
           CAST(len(list_distinct(flatten(list(targets)))) AS BIGINT)
             AS n_targets
    FROM sig GROUP BY group_key
    """.replace("{RE}", _HREFLANG_SQL_RE.replace("'", "''")),
)
def hreflang_translation_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-declared translation clusters (operators/metadata.py
    hreflang_alternates + hreflang_clusters) over synthesized multilingual
    page sets: 30 sites x 3 language versions, English pages adding an
    x-default annotation pointing at themselves (exercising target-set
    dedup), every-7th page unannotated (contributing nothing). Cluster
    key is the md5 of the sorted deduplicated target set; language lists
    surface as sorted CSV so set ordering never leaks into the hash."""
    from .operators.metadata import hreflang_alternates, hreflang_clusters

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 180)
    did = F.col("doc_id")
    site = F.concat(F.lit("https://s"), (did % 30).cast("string"), F.lit(".example/"))
    own = F.element_at(F.array(F.lit("en"), F.lit("fr"), F.lit("de")), (did % 3 + 1).cast("int"))

    def link(lang, href_lang):
        return F.concat(
            F.lit('<link rel="alternate" hreflang="' + lang + '" href="'),
            site,
            F.lit(href_lang + '">'),
        )

    annotated = F.concat(
        link("en", "en"),
        link("fr", "fr"),
        link("de", "de"),
        F.when(did % 3 == 0, link("x-default", "en")).otherwise(F.lit("")),
    )
    pages = d.select(
        F.concat(site, own).alias("url"),
        F.when(did % 7 == 0, F.lit("<html><body>x</body></html>"))
        .otherwise(annotated)
        .alias("html"),
    )
    alts = hreflang_alternates(pages, html_col="html")
    return hreflang_clusters(alts)


@query(
    "source_divergence_audit",
    """
    WITH raw AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS token
      FROM documents),
    t AS (SELECT * FROM raw WHERE token <> ''),
    cs AS (SELECT source, token, count(*)::DOUBLE AS c
           FROM t GROUP BY source, token),
    ct AS (SELECT token, sum(c) AS c_t FROM cs GROUP BY token),
    g AS (SELECT sum(c_t) AS n, count(*)::DOUBLE AS v FROM ct),
    q AS (SELECT token,
                 (c_t + 0.5) / (SELECT n + 0.5 * v FROM g) AS qp
          FROM ct),
    ns AS (SELECT source, sum(c) AS n_s, count(*)::DOUBLE AS v_s
           FROM cs GROUP BY source),
    grid AS (SELECT ns.source, ns.n_s, ns.v_s, q.token, q.qp
             FROM ns, q),
    kl AS (
      SELECT g2.source, any_value(g2.n_s) AS n_s, any_value(g2.v_s) AS v_s,
             sum(((coalesce(cs.c, 0) + 0.5)
                   / (g2.n_s + 0.5 * (SELECT v FROM g)))
                 * ln(((coalesce(cs.c, 0) + 0.5)
                        / (g2.n_s + 0.5 * (SELECT v FROM g))) / g2.qp))
               AS kl
      FROM grid g2 LEFT JOIN cs
        ON cs.source = g2.source AND cs.token = g2.token
      GROUP BY g2.source)
    SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
           CAST(v_s AS BIGINT) AS vocab_seen, round(kl, 6) AS kl_r
    FROM kl
    """,
)
def source_divergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution
    (operators/lm.source_unigram_divergence, add-0.5 smoothing over the
    global vocabulary). The Spark side computes the scale-safe closed-form
    decomposition (absent-token mass collapsed analytically); the oracle
    computes the NAIVE source x vocabulary cross-join sum — their match
    proves the decomposition identity, not just the arithmetic."""
    from .operators.lm import source_unigram_divergence

    d = _t(spark, sf_dir, "documents")
    return source_unigram_divergence(d, alpha=0.5)


@query(
    "embedding_int8_report",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    s AS (SELECT vec_id, embedding,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
          FROM e),
    q AS (SELECT vec_id, scale, embedding,
            CASE WHEN scale = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x -> CAST(greatest(-127,
                     least(127, floor(CAST(x AS DOUBLE) / scale + 0.5)))
                     AS INT))
            END AS codes
          FROM s),
    r AS (SELECT vec_id, scale, codes,
            list_transform(range(1, len(embedding) + 1),
              i -> CAST(embedding[i] AS DOUBLE)) AS v,
            list_transform(codes, c -> c * scale) AS vhat
          FROM q),
    m AS (SELECT vec_id, scale, codes,
            list_sum(list_transform(range(1, len(v) + 1),
              i -> (v[i] - vhat[i]) * (v[i] - vhat[i]))) AS sse,
            len(v) AS dim,
            list_sum(list_transform(v, x -> x * x)) AS dvv,
            list_sum(list_transform(vhat, x -> x * x)) AS dhh,
            list_sum(list_transform(range(1, len(v) + 1),
              i -> v[i] * vhat[i])) AS dvh
          FROM r)
    SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT)
             AS q_l1,
           round(scale, 9) AS scale_r,
           round(sse / dim, 9) AS mse_r,
           round(CASE WHEN dvv = 0 OR dhh = 0 THEN 1.0
                      ELSE dvh / (sqrt(dvv) * sqrt(dhh)) END, 6) AS cos_r
    FROM m
    """,
)
def embedding_int8_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization fidelity (operators/quantize.py) over
    the first 300 embeddings: the int8 codes themselves are matched
    EXACTLY cross-engine via integer checksums (sum + L1 — floor(x+0.5)
    rounding is engine-invariant, unlike round()), alongside the scale,
    reconstruction MSE and cosine fidelity. The storage-tier decision
    table for billion-vector ANN."""
    from .operators.quantize import quantization_report

    e = _t(spark, sf_dir, "embeddings", rebalance=False).filter(
        F.col("vec_id") < 300
    )
    return quantization_report(e)


def _logbin_sql(expr: str) -> str:
    """Integer-comparison floor(log2(expr+1)) over 40 bins — the same
    never-use-float-log discipline as operators/stats.logbin_of."""
    return "(" + " + ".join(
        f"CAST(({expr} + 1 >= {2 ** k}) AS INT)" for k in range(1, 40)
    ) + ")"


@query(
    "logbin_length_quantiles",
    f"""
    WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
    b AS (SELECT source, v, {_logbin_sql("v")} AS bin FROM v),
    h AS (SELECT source, bin, count(*)::BIGINT AS cnt,
                 min(v) AS mn, max(v) AS mx
          FROM b GROUP BY source, bin),
    r AS (SELECT source, bin, cnt, mn, mx,
                 sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
                 sum(cnt) OVER (PARTITION BY source ORDER BY bin) - cnt
                   AS cum_before,
                 sum(cnt) OVER (PARTITION BY source) AS n,
                 max(mx) OVER (PARTITION BY source) AS gmax
          FROM h)
    SELECT source AS "group",
           CAST(any_value(n) AS BIGINT) AS n_values,
           any_value(gmax) AS max_value,
           round(min(CASE WHEN cum >= 0.5 * n AND cum_before < 0.5 * n
             THEN mn + (mx - mn) * (0.5 * n - cum_before) / cnt END), 4)
             AS q50,
           round(min(CASE WHEN cum >= 0.95 * n AND cum_before < 0.95 * n
             THEN mn + (mx - mn) * (0.95 * n - cum_before) / cnt END), 4)
             AS q95,
           round(min(CASE WHEN cum >= 0.99 * n AND cum_before < 0.99 * n
             THEN mn + (mx - mn) * (0.99 * n - cum_before) / cnt END), 4)
             AS q99
    FROM r GROUP BY source
    """,
)
def logbin_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile histograms (operators/stats.py): per-source
    p50/p95/p99 of document length estimated from power-of-two log bins
    with within-bin min-max interpolation — the bounded-state
    incremental alternative to exact percentiles (doc_length_quantiles
    is the exact-sort twin; this one merges across daily batches like
    source_stats). Bin indices come from integer comparisons, never
    float log — ln boundaries round differently across engines."""
    from .operators.stats import histogram_quantiles, value_histogram

    d = _t(spark, sf_dir, "documents")
    hist = value_histogram(d, "source", "n_chars")
    return histogram_quantiles(hist, ps=(0.5, 0.95, 0.99))


def _hits_oracle(edges_cte: str, iters: int) -> str:
    """Unrolled-CTE DuckDB mirror of links.hits_scores (weighted
    synchronous HITS, L1 normalization, zero-sum guard).

    Every iteration CTE is ``AS MATERIALIZED`` and the normalizer sums
    are 1-row CTEs cross-joined in: DuckDB inlines plain CTEs, so a
    chain whose stages are referenced 2-3 times each re-plans the whole
    upstream per reference — exponential in the iteration count
    (measured: the inline-CTE form of this oracle never finished at 3
    iterations; materialized it runs in milliseconds)."""
    parts = [
        f"WITH {edges_cte},",
        "nodes AS MATERIALIZED (SELECT DISTINCT host FROM ("
        "SELECT src_host AS host"
        " FROM edges UNION ALL SELECT dst_host FROM edges)),",
        "s0 AS MATERIALIZED (SELECT host, 1.0 AS hub, 1.0 AS auth"
        " FROM nodes),",
    ]
    for i in range(iters):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT n.host,"
            " coalesce(x.a, 0.0) AS a_raw"
            " FROM nodes n LEFT JOIN (SELECT e.dst_host AS host,"
            " sum(e.n_links * s.hub) AS a"
            f" FROM s{i} s JOIN edges e ON s.host = e.src_host"
            " GROUP BY e.dst_host) x ON n.host = x.host),"
        )
        parts.append(
            f"asum{i} AS MATERIALIZED (SELECT sum(a_raw) AS s"
            f" FROM ar{i}),"
        )
        parts.append(
            f"an{i} AS MATERIALIZED (SELECT host, CASE WHEN g.s > 0"
            " THEN a_raw / g.s ELSE 0.0 END AS auth"
            f" FROM ar{i}, asum{i} g),"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT n.host,"
            " coalesce(x.h, 0.0) AS h_raw"
            " FROM nodes n LEFT JOIN (SELECT e.src_host AS host,"
            " sum(e.n_links * a.auth) AS h"
            f" FROM an{i} a JOIN edges e ON a.host = e.dst_host"
            " GROUP BY e.src_host) x ON n.host = x.host),"
        )
        parts.append(
            f"hsum{i} AS MATERIALIZED (SELECT sum(h_raw) AS s"
            f" FROM hr{i}),"
        )
        parts.append(
            f"s{i + 1} AS MATERIALIZED (SELECT h.host,"
            " CASE WHEN g.s > 0 THEN h.h_raw / g.s ELSE 0.0 END"
            f" AS hub, a.auth FROM hr{i} h"
            f" JOIN an{i} a ON h.host = a.host"
            f" CROSS JOIN hsum{i} g),"
        )
    parts.append(
        f"final AS (SELECT host, hub, auth FROM s{iters})"
        " SELECT host, round(hub, 7) AS hub_r, round(auth, 7) AS auth_r"
        " FROM final"
    )
    return "\n".join(parts)


@query("host_hits_scores", None)  # oracle attached below (generated)
def host_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted HITS hub/authority scores (operators/links.py) on the
    SAME deterministic host graph as host_pagerank and
    host_trust_propagation — three link-analysis algorithms pinned to
    one input. 3 synchronous iterations, L1 normalization; matched to 7
    decimals against the unrolled-CTE oracle. Pure-sink hosts (h12/h13)
    must end with hub 0; pure sources with auth 0."""
    from .operators.links import hits_scores

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    did = F.col("doc_id")
    src = F.concat(F.lit("h"), (did % 12).cast("string"))
    dst = F.concat(F.lit("h"), ((did * 5 + 3) % 14).cast("string"))
    edges = (
        d.select(src.alias("src_host"), dst.alias("dst_host"), did)
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.sum(F.col("doc_id") % 3 + 1).alias("n_links"))
    )
    s = hits_scores(edges, iterations=3)
    return s.select(
        "host", F.round("hub", 7).alias("hub_r"), F.round("auth", 7).alias("auth_r")
    )


ORACLES["host_hits_scores"] = _hits_oracle(_PR_EDGES_CTE, 3)


def _pq_codes_oracle(
    n_vecs: int, dim: int, m: int, init_ids: list[int], iters: int
) -> str:
    """DuckDB mirror of quantize.pq_train + pq_encode: per subspace the
    _kmeans_oracle CTE chain (seed init, round-9 argmin, empty-cell
    retention) runs over that subspace's dim slice, then every vector is
    assigned its nearest trained centroid — the outputs are INTEGER
    codes, matched with zero tolerance."""
    sub = dim // m
    seeds = " UNION ALL ".join(
        f"SELECT {c} AS cell, {vid} AS vid" for c, vid in enumerate(init_ids)
    )
    parts = [
        f"WITH e AS (SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id < {n_vecs}),",
        f"v AS (SELECT vec_id, range AS dim,"
        f" CAST(embedding[range] AS DOUBLE) AS val"
        f" FROM e, range(1, {dim + 1})),",
        f"seedmap AS ({seeds}),",
    ]
    selects = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"v{j} AS (SELECT * FROM v WHERE dim BETWEEN {lo} AND {hi}),"
        )
        parts.append(
            f"c0_{j} AS (SELECT s.cell, v.dim, v.val AS w FROM seedmap s"
            f" JOIN v{j} v ON v.vec_id = s.vid),"
        )
        for i in range(iters):
            parts.append(
                f"d{i}_{j} AS (SELECT v.vec_id, c.cell,"
                " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
                f" FROM v{j} v JOIN c{i}_{j} c ON v.dim = c.dim"
                " GROUP BY v.vec_id, c.cell),"
            )
            parts.append(
                f"a{i}_{j} AS (SELECT vec_id, cell FROM ("
                f"  SELECT vec_id, cell, row_number() OVER ("
                "     PARTITION BY vec_id ORDER BY dist, cell) AS r"
                f"  FROM d{i}_{j}) WHERE r = 1),"
            )
            parts.append(
                f"n{i}_{j} AS (SELECT a.cell, v.dim, avg(v.val) AS w"
                f" FROM a{i}_{j} a JOIN v{j} v ON v.vec_id = a.vec_id"
                " GROUP BY a.cell, v.dim),"
            )
            parts.append(
                f"c{i + 1}_{j} AS (SELECT c.cell, c.dim,"
                f" coalesce(n.w, c.w) AS w FROM c{i}_{j} c"
                f" LEFT JOIN n{i}_{j} n"
                " ON c.cell = n.cell AND c.dim = n.dim),"
            )
        parts.append(
            f"df_{j} AS (SELECT v.vec_id, c.cell,"
            " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
            f" FROM v{j} v JOIN c{iters}_{j} c ON v.dim = c.dim"
            " GROUP BY v.vec_id, c.cell),"
        )
        parts.append(
            f"code_{j} AS (SELECT vec_id, {j} AS subspace, cell AS code"
            f" FROM (SELECT vec_id, cell, row_number() OVER ("
            " PARTITION BY vec_id ORDER BY dist, cell) AS r"
            f" FROM df_{j}) WHERE r = 1),"
        )
        selects.append(f"SELECT * FROM code_{j}")
    parts.append("final AS (" + " UNION ALL ".join(selects) + ")")
    parts.append(
        "SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,"
        " CAST(code AS BIGINT) AS code FROM final"
    )
    return "\n".join(parts)


_PQ_INIT_IDS = [0, 7, 19]


@query("pq_vector_codes", None)  # oracle attached below (generated)
def pq_vector_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (operators/quantize.pq_train +
    pq_encode, Jégou TPAMI'11): 64-dim embeddings split into 4
    subspaces, a 3-centroid Lloyd codebook trained per subspace (2
    iterations, explicit seeds — kmeans_dataflow composed over slices),
    every vector stored as 4 small integers. The oracle re-trains all
    four codebooks and re-assigns every vector in SQL; codes match with
    ZERO tolerance. 256 B/vector float32 → 4 codes: the ANN storage
    tier beyond int8."""
    from .operators.quantize import pq_encode, pq_train

    e = _t(spark, sf_dir, "embeddings", rebalance=False).filter(
        F.col("vec_id") < 300
    )
    books = pq_train(e, m=4, init_ids=_PQ_INIT_IDS, iterations=2)
    codes = pq_encode(e, books)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    ).select(
        "vec_id",
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code").cast("long").alias("code"),
    )


ORACLES["pq_vector_codes"] = _pq_codes_oracle(300, 64, 4, _PQ_INIT_IDS, 2)


def _pq_adc_oracle(
    n_vecs: int, dim: int, m: int, init_ids: list[int], iters: int,
    n_queries: int, k: int,
) -> str:
    """DuckDB mirror of quantize.pq_adc_topk over codebooks trained by
    the _pq_codes_oracle chain: re-train per-subspace codebooks, re-code
    the corpus, build each query's subvector-to-centroid distance table,
    score every coded vector by m table lookups, rank. All iteration
    CTEs MATERIALIZED (the HITS-oracle lesson: multiply-referenced plain
    CTEs re-plan exponentially under DuckDB inlining)."""
    sub = dim // m
    seeds = " UNION ALL ".join(
        f"SELECT {c} AS cell, {vid} AS vid" for c, vid in enumerate(init_ids)
    )
    parts = [
        f"WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id < {n_vecs}),",
        f"v AS MATERIALIZED (SELECT vec_id, range AS dim,"
        f" CAST(embedding[range] AS DOUBLE) AS val"
        f" FROM e, range(1, {dim + 1})),",
        f"seedmap AS ({seeds}),",
    ]
    code_sel, dtab_sel = [], []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"v{j} AS MATERIALIZED (SELECT * FROM v"
            f" WHERE dim BETWEEN {lo} AND {hi}),"
        )
        parts.append(
            f"c0_{j} AS MATERIALIZED (SELECT s.cell, v.dim, v.val AS w"
            f" FROM seedmap s JOIN v{j} v ON v.vec_id = s.vid),"
        )
        for i in range(iters):
            parts.append(
                f"d{i}_{j} AS MATERIALIZED (SELECT v.vec_id, c.cell,"
                " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
                f" FROM v{j} v JOIN c{i}_{j} c ON v.dim = c.dim"
                " GROUP BY v.vec_id, c.cell),"
            )
            parts.append(
                f"a{i}_{j} AS MATERIALIZED (SELECT vec_id, cell FROM ("
                f"  SELECT vec_id, cell, row_number() OVER ("
                "     PARTITION BY vec_id ORDER BY dist, cell) AS r"
                f"  FROM d{i}_{j}) WHERE r = 1),"
            )
            parts.append(
                f"n{i}_{j} AS MATERIALIZED (SELECT a.cell, v.dim,"
                f" avg(v.val) AS w FROM a{i}_{j} a"
                f" JOIN v{j} v ON v.vec_id = a.vec_id"
                " GROUP BY a.cell, v.dim),"
            )
            parts.append(
                f"c{i + 1}_{j} AS MATERIALIZED (SELECT c.cell, c.dim,"
                f" coalesce(n.w, c.w) AS w FROM c{i}_{j} c"
                f" LEFT JOIN n{i}_{j} n"
                " ON c.cell = n.cell AND c.dim = n.dim),"
            )
        parts.append(
            f"df_{j} AS MATERIALIZED (SELECT v.vec_id, c.cell,"
            " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
            f" FROM v{j} v JOIN c{iters}_{j} c ON v.dim = c.dim"
            " GROUP BY v.vec_id, c.cell),"
        )
        parts.append(
            f"code_{j} AS MATERIALIZED (SELECT vec_id, {j} AS subspace,"
            f" cell AS code FROM (SELECT vec_id, cell, row_number() OVER ("
            " PARTITION BY vec_id ORDER BY dist, cell) AS r"
            f" FROM df_{j}) WHERE r = 1),"
        )
        parts.append(
            f"dtab_{j} AS MATERIALIZED (SELECT q.vec_id AS query_id,"
            f" {j} AS subspace, c.cell,"
            " sum((q.val - c.w) * (q.val - c.w)) AS d"
            f" FROM (SELECT * FROM v{j} WHERE vec_id < {n_queries}) q"
            f" JOIN c{iters}_{j} c ON q.dim = c.dim"
            " GROUP BY q.vec_id, c.cell),"
        )
        code_sel.append(f"SELECT * FROM code_{j}")
        dtab_sel.append(f"SELECT * FROM dtab_{j}")
    parts.append(
        "codes AS MATERIALIZED (" + " UNION ALL ".join(code_sel) + "),"
    )
    parts.append(
        "dtab AS MATERIALIZED (" + " UNION ALL ".join(dtab_sel) + "),"
    )
    parts.append(
        "score AS MATERIALIZED (SELECT t.query_id, cd.vec_id AS neighbor_id,"
        " round(sum(t.d), 6) AS adc_dist"
        " FROM codes cd JOIN dtab t"
        " ON t.subspace = cd.subspace AND t.cell = cd.code"
        " WHERE t.query_id <> cd.vec_id"
        " GROUP BY t.query_id, cd.vec_id),"
    )
    parts.append(
        "ranked AS (SELECT query_id, neighbor_id, adc_dist,"
        " row_number() OVER (PARTITION BY query_id"
        " ORDER BY adc_dist, neighbor_id) AS rnk FROM score)"
        f" SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,"
        f" adc_dist FROM ranked WHERE rnk <= {k}"
    )
    return "\n".join(parts)


@query("pq_adc_neighbors", None)  # oracle attached below (generated)
def pq_adc_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/quantize.pq_adc_topk):
    5 full-precision queries against 300 PQ-coded vectors (the SAME
    4-subspace/3-centroid codebooks as pq_vector_codes — the two entries
    share training so they can never drift), each query scoring corpus
    rows by m distance-table lookups without ever reading corpus floats.
    The oracle re-trains, re-codes, rebuilds the distance tables and
    re-ranks entirely in SQL."""
    from .operators.quantize import pq_adc_topk, pq_encode, pq_train

    e = _t(spark, sf_dir, "embeddings", rebalance=False).filter(
        F.col("vec_id") < 300
    )
    books = pq_train(e, m=4, init_ids=_PQ_INIT_IDS, iterations=2)
    codes = pq_encode(e, books)
    q = e.filter(F.col("vec_id") < 5)
    return pq_adc_topk(q, codes, books, k=5)


ORACLES["pq_adc_neighbors"] = _pq_adc_oracle(300, 64, 4, _PQ_INIT_IDS, 2, 5, 5)


@query(
    "doc_readability",
    """
    WITH raw AS (
      SELECT doc_id, text, unnest(string_split(lower(text), ' ')) AS w
      FROM documents),
    t AS (SELECT doc_id, w FROM raw WHERE w <> ''),
    per AS (
      SELECT doc_id,
             greatest(len(regexp_extract_all(w, '[aeiouy]+'))
               - CASE WHEN regexp_matches(w,
                   '[aeiouy][a-z]*[bcdfghjkmnpqrstvwxz]e$')
                 THEN 1 ELSE 0 END, 1) AS syl
      FROM t),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(syl) AS BIGINT) AS n_syllables
            FROM per GROUP BY doc_id),
    sents AS (SELECT doc_id,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences
              FROM documents)
    SELECT a.doc_id, n_words, n_sentences, n_syllables,
           round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
             AS flesch_ease_r,
           round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
             - 15.59, 4) AS fk_grade_r
    FROM agg a JOIN sents s ON a.doc_id = s.doc_id
    WHERE n_words > 0
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document
    (operators/textstats.readability_scores): vowel-group syllable
    approximation with silent-e correction and the 1-per-word floor,
    terminal-punctuation sentence counting — the curriculum-ordering
    difficulty signal, scored natively at scan speed. Both engines
    compute words/sentences/syllables independently and must agree on
    the counts exactly and the scores to 4 decimals."""
    from .operators.textstats import readability_scores

    d = _t(spark, sf_dir, "documents")
    return readability_scores(d)


def _ivf_adc_oracle(
    n_vecs: int, dim: int, m: int, pq_init: list[int], pq_iters: int,
    coarse_init: list[int], coarse_iters: int, n_queries: int, k: int,
    n_probe: int,
) -> str:
    """DuckDB mirror of quantize.ivf_adc_topk: re-train the coarse
    quantizer (full-dim Lloyd chain) AND the per-subspace PQ codebooks,
    re-assign corpus cells, pick each query's n_probe cells, and
    ADC-score only the candidates in probed cells. All chains
    MATERIALIZED (the HITS-oracle lesson)."""
    sub = dim // m
    seedg = " UNION ALL ".join(
        f"SELECT {c} AS cell, {vid} AS vid" for c, vid in enumerate(coarse_init)
    )
    seedp = " UNION ALL ".join(
        f"SELECT {c} AS cell, {vid} AS vid" for c, vid in enumerate(pq_init)
    )
    parts = [
        f"WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings"
        f" WHERE vec_id < {n_vecs}),",
        f"v AS MATERIALIZED (SELECT vec_id, range AS dim,"
        f" CAST(embedding[range] AS DOUBLE) AS val"
        f" FROM e, range(1, {dim + 1})),",
        f"seedg AS ({seedg}),",
        f"seedp AS ({seedp}),",
        "cg0 AS MATERIALIZED (SELECT s.cell, v.dim, v.val AS w"
        " FROM seedg s JOIN v ON v.vec_id = s.vid),",
    ]
    for i in range(coarse_iters):
        parts.append(
            f"dg{i} AS MATERIALIZED (SELECT v.vec_id, c.cell,"
            " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
            f" FROM v JOIN cg{i} c ON v.dim = c.dim"
            " GROUP BY v.vec_id, c.cell),"
        )
        parts.append(
            f"ag{i} AS MATERIALIZED (SELECT vec_id, cell FROM ("
            f"  SELECT vec_id, cell, row_number() OVER ("
            "     PARTITION BY vec_id ORDER BY dist, cell) AS r"
            f"  FROM dg{i}) WHERE r = 1),"
        )
        parts.append(
            f"ng{i} AS MATERIALIZED (SELECT a.cell, v.dim, avg(v.val) AS w"
            f" FROM ag{i} a JOIN v ON v.vec_id = a.vec_id"
            " GROUP BY a.cell, v.dim),"
        )
        parts.append(
            f"cg{i + 1} AS MATERIALIZED (SELECT c.cell, c.dim,"
            f" coalesce(n.w, c.w) AS w FROM cg{i} c LEFT JOIN ng{i} n"
            " ON c.cell = n.cell AND c.dim = n.dim),"
        )
    parts.append(
        f"dgf AS MATERIALIZED (SELECT v.vec_id, c.cell,"
        " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
        f" FROM v JOIN cg{coarse_iters} c ON v.dim = c.dim"
        " GROUP BY v.vec_id, c.cell),"
    )
    parts.append(
        "cellmap AS MATERIALIZED (SELECT vec_id, cell FROM ("
        " SELECT vec_id, cell, row_number() OVER ("
        " PARTITION BY vec_id ORDER BY dist, cell) AS r FROM dgf)"
        " WHERE r = 1),"
    )
    parts.append(
        f"probe AS MATERIALIZED (SELECT vec_id AS query_id, cell FROM ("
        " SELECT vec_id, cell, row_number() OVER ("
        " PARTITION BY vec_id ORDER BY dist, cell) AS r FROM dgf"
        f" WHERE vec_id < {n_queries}) WHERE r <= {n_probe}),"
    )
    code_sel, dtab_sel = [], []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(
            f"v{j} AS MATERIALIZED (SELECT * FROM v"
            f" WHERE dim BETWEEN {lo} AND {hi}),"
        )
        parts.append(
            f"c0_{j} AS MATERIALIZED (SELECT s.cell, v.dim, v.val AS w"
            f" FROM seedp s JOIN v{j} v ON v.vec_id = s.vid),"
        )
        for i in range(pq_iters):
            parts.append(
                f"d{i}_{j} AS MATERIALIZED (SELECT v.vec_id, c.cell,"
                " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
                f" FROM v{j} v JOIN c{i}_{j} c ON v.dim = c.dim"
                " GROUP BY v.vec_id, c.cell),"
            )
            parts.append(
                f"a{i}_{j} AS MATERIALIZED (SELECT vec_id, cell FROM ("
                f"  SELECT vec_id, cell, row_number() OVER ("
                "     PARTITION BY vec_id ORDER BY dist, cell) AS r"
                f"  FROM d{i}_{j}) WHERE r = 1),"
            )
            parts.append(
                f"n{i}_{j} AS MATERIALIZED (SELECT a.cell, v.dim,"
                f" avg(v.val) AS w FROM a{i}_{j} a"
                f" JOIN v{j} v ON v.vec_id = a.vec_id"
                " GROUP BY a.cell, v.dim),"
            )
            parts.append(
                f"c{i + 1}_{j} AS MATERIALIZED (SELECT c.cell, c.dim,"
                f" coalesce(n.w, c.w) AS w FROM c{i}_{j} c"
                f" LEFT JOIN n{i}_{j} n"
                " ON c.cell = n.cell AND c.dim = n.dim),"
            )
        parts.append(
            f"df_{j} AS MATERIALIZED (SELECT v.vec_id, c.cell,"
            " round(sum((v.val - c.w) * (v.val - c.w)), 9) AS dist"
            f" FROM v{j} v JOIN c{pq_iters}_{j} c ON v.dim = c.dim"
            " GROUP BY v.vec_id, c.cell),"
        )
        parts.append(
            f"code_{j} AS MATERIALIZED (SELECT vec_id, {j} AS subspace,"
            f" cell AS code FROM (SELECT vec_id, cell, row_number() OVER ("
            " PARTITION BY vec_id ORDER BY dist, cell) AS r"
            f" FROM df_{j}) WHERE r = 1),"
        )
        parts.append(
            f"dtab_{j} AS MATERIALIZED (SELECT q.vec_id AS query_id,"
            f" {j} AS subspace, c.cell,"
            " sum((q.val - c.w) * (q.val - c.w)) AS d"
            f" FROM (SELECT * FROM v{j} WHERE vec_id < {n_queries}) q"
            f" JOIN c{pq_iters}_{j} c ON q.dim = c.dim"
            " GROUP BY q.vec_id, c.cell),"
        )
        code_sel.append(f"SELECT * FROM code_{j}")
        dtab_sel.append(f"SELECT * FROM dtab_{j}")
    parts.append(
        "codes AS MATERIALIZED (" + " UNION ALL ".join(code_sel) + "),"
    )
    parts.append(
        "dtab AS MATERIALIZED (" + " UNION ALL ".join(dtab_sel) + "),"
    )
    parts.append(
        "cands AS MATERIALIZED (SELECT p.query_id, cm.vec_id AS neighbor_id"
        " FROM probe p JOIN cellmap cm ON p.cell = cm.cell"
        " WHERE p.query_id <> cm.vec_id),"
    )
    parts.append(
        "score AS MATERIALIZED (SELECT ca.query_id, ca.neighbor_id,"
        " round(sum(t.d), 6) AS adc_dist"
        " FROM cands ca JOIN codes cd ON cd.vec_id = ca.neighbor_id"
        " JOIN dtab t ON t.query_id = ca.query_id"
        " AND t.subspace = cd.subspace AND t.cell = cd.code"
        " GROUP BY ca.query_id, ca.neighbor_id),"
    )
    parts.append(
        "ranked AS (SELECT query_id, neighbor_id, adc_dist,"
        " row_number() OVER (PARTITION BY query_id"
        " ORDER BY adc_dist, neighbor_id) AS rnk FROM score)"
        f" SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank,"
        f" adc_dist FROM ranked WHERE rnk <= {k}"
    )
    return "\n".join(parts)


@query("ivf_adc_search", None)  # oracle attached below (generated)
def ivf_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search end to end (operators/quantize.ivf_adc_topk — the
    FAISS IndexIVFPQ plan): corpus stored as (cell, codes) with floats
    discarded; 5 queries probe their 2 nearest coarse cells and
    ADC-score only those candidates via a cell EQUI-join (never a cross
    join — the scale path the brute pq_adc_neighbors tier verifies
    against). Coarse quantizer shares training with
    kmeans_cell_centroids and the codebooks with pq_vector_codes, so
    all four ANN entries are pinned to the same models; the oracle
    re-derives everything in SQL."""
    from .ml.kmeans_dataflow import kmeans_lloyd
    from .operators.quantize import ivf_adc_topk, pq_train

    e = _t(spark, sf_dir, "embeddings", rebalance=False).filter(
        F.col("vec_id") < 300
    )
    coarse = kmeans_lloyd(e, _KMEANS_INIT_IDS, iterations=2)
    books = pq_train(e, m=4, init_ids=_PQ_INIT_IDS, iterations=2)
    q = e.filter(F.col("vec_id") < 5)
    return ivf_adc_topk(q, e, coarse, books, k=5, n_probe=2)


ORACLES["ivf_adc_search"] = _ivf_adc_oracle(
    300, 64, 4, _PQ_INIT_IDS, 2, _KMEANS_INIT_IDS, 2, 5, 5, 2
)
