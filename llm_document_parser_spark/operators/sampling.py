"""Token-budget corpus sampling — cut a curated corpus down to a target
training budget, per group, without bias.

A training run wants "N billion tokens, mixed X% web / Y% code / …"; the
curation funnel produces more than that. The unbiased way to downsample
is a deterministic random order (hash of the document id — stable across
runs and engines, no RNG state) with a running token total per group:
keep every document whose group-cumulative token count up to and
INCLUDING itself stays within the group's budget, plus the first
straddling document (so a budget smaller than the first doc still yields
it — a budget must never produce an empty group).

Scale shape: one window (hash-ordered cumulative sum within the group
partition) — a single shuffle on the group key. Groups are coarse
(source/domain/language), so per-partition data is large but the window
is a streaming running sum, not a buffering rank. Skewed groups behave
like any skewed window partition: pre-split the group key upstream if
one group dominates the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import token_count


def sample_to_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Column | None = None,
) -> DataFrame:
    """Keep a deterministic ~``budget_tokens``-token sample per group
    (whole corpus when ``group_col`` is None). Adds ``ws_tokens`` and
    ``cum_tokens`` (the group-cumulative count including the row) so the
    achieved budget is auditable; preserves all input columns.

    ``tokens_col`` overrides the token definition (e.g. a precomputed
    exact-BPE count column) — the default is the portable whitespace
    count, matching ``curation_funnel.kept_tokens``.

    Scale note: an UNGROUPED budget is a single-partition window — exact,
    but serial; fine up to ~10^8 rows. Grouped budgets parallelize across
    groups.
    """
    toks = tokens_col if tokens_col is not None else token_count(F.col(text_col))
    part = Window.partitionBy(group_col) if group_col is not None else Window.partitionBy()
    order = part.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    with_cum = docs.withColumn("ws_tokens", toks).withColumn(
        "cum_tokens",
        F.sum("ws_tokens").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # keep rows fully inside the budget, plus the first straddler:
    # cum - ws < budget ⇔ the budget was not yet exhausted when this row
    # started, so it is taken (possibly overshooting once per group)
    return with_cum.filter(
        F.col("cum_tokens") - F.col("ws_tokens") < float(budget_tokens)
    )


def cap_per_group(
    docs: DataFrame,
    max_docs: int,
    group_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``max_docs`` documents per group — the crawl-politeness
    / anti-domination cap every web pipeline applies per host or domain
    (one template-heavy site must not become 4% of the corpus). Selection
    is the same deterministic md5-hash order as the token-budget sampler:
    unbiased within the group, stable across runs and engines. One
    row_number window = one shuffle on the group key; preserves all input
    columns."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= max_docs)
        .drop("_cap_rn")
    )


def assign_token_shards(
    docs: DataFrame,
    shard_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: Column | None = None,
) -> DataFrame:
    """Assign every document a ``shard_id`` such that consecutive shards
    (in the deterministic md5-of-id order) each hold ~``shard_tokens``
    tokens — the training-export layout: a trainer streams shard files of
    a known token size, and re-running the job on the same corpus must
    produce byte-identical shard membership.

    A document belongs to the shard its STARTING token offset falls in:
    ``shard_id = floor((global_cum - own_tokens) / shard_tokens)`` where
    ``global_cum`` is the running token total up to and including the row
    in md5(id) order. Adds ``ws_tokens``, ``cum_tokens``, ``shard_id``.

    Scale shape — exact global cumulative sum WITHOUT a single-partition
    window: the md5 order key's first two hex chars split the corpus into
    256 buckets whose lexicographic order is a prefix of the full order,
    so (1) a 256-row aggregate computes per-bucket token totals, (2) a
    window over those 256 rows turns them into bucket starting offsets
    (driver-scale work), (3) a per-bucket window (parallel across 256
    partitions) computes the local running sum, and offset + local sum is
    exactly the global running sum. Two shuffles (bucket agg + bucket
    window), both on a uniform md5-derived key — no skew, no serial
    stage, byte-stable at any scale.
    """
    toks = tokens_col if tokens_col is not None else token_count(F.col(text_col))
    ordk = F.md5(F.col(id_col).cast("string"))
    d = (
        docs.withColumn("ws_tokens", toks)
        .withColumn("_ord", ordk)
        .withColumn("_bkt", F.substring(ordk, 1, 2))
    )
    bucket_offsets = (
        d.groupBy("_bkt")
        .agg(F.sum("ws_tokens").alias("_bkt_tokens"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_bkt_tokens").over(
                    Window.orderBy("_bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_bkt_tokens")
    )
    local = Window.partitionBy("_bkt").orderBy("_ord", F.col(id_col).cast("string"))
    return (
        d.join(F.broadcast(bucket_offsets), "_bkt")
        .withColumn(
            "cum_tokens",
            (
                F.col("_offset")
                + F.sum("ws_tokens").over(
                    local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
            ).cast("long"),
        )
        .withColumn(
            "shard_id",
            F.floor(
                (F.col("cum_tokens") - F.col("ws_tokens")) / F.lit(shard_tokens)
            ).cast("long"),
        )
        .drop("_ord", "_bkt", "_offset")
    )


def domain_temperature_sample(
    docs: DataFrame,
    k: int,
    alpha: float = 0.5,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled domain mixing (the Pile / multilingual-LM
    recipe): target ~``k`` documents total, with each domain's quota
    proportional to ``share(domain) ** alpha``, renormalized. ``alpha=1``
    keeps natural proportions; ``alpha=0`` is uniform across domains;
    the usual 0<alpha<1 upsamples the tail relative to the head. Quotas
    are rounded and capped at the domain's own size (no replacement), so
    the achieved total can differ from ``k`` by at most one per domain.

    Selection within a domain is the deterministic ``md5(id)`` order used
    by every sampler in this module — stable across engines, runs and
    partitionings. Returns the sampled rows as ``(id, group, dom_rank)``.

    Scale shape: one tiny groupBy for the domain table (broadcast back),
    one window per domain partition for the rank — a single shuffle on
    the domain key over the corpus; the quota math never touches the
    driver."""
    dims = docs.groupBy(group_col).agg(F.count("*").cast("double").alias("n_d"))
    tot = dims.agg(F.sum("n_d").alias("t"))
    wts = dims.crossJoin(F.broadcast(tot)).select(
        group_col, "n_d", F.pow(F.col("n_d") / F.col("t"), float(alpha)).alias("sa")
    )
    den = wts.agg(F.sum("sa").alias("d"))
    quotas = wts.crossJoin(F.broadcast(den)).select(
        group_col,
        F.least(
            F.round(k * F.col("sa") / F.col("d"), 0).cast("long"),
            F.col("n_d").cast("long"),
        ).alias("quota"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col).cast("string")
    )
    ranked = docs.select(id_col, group_col).withColumn(
        "dom_rank", F.row_number().over(w).cast("long")
    )
    return ranked.join(F.broadcast(quotas), group_col).where(
        F.col("dom_rank") <= F.col("quota")
    ).select(id_col, group_col, "dom_rank")


SPLIT_FRACTIONS = (("train", 0.9), ("val", 0.05), ("test", 0.05))


def leakage_safe_split(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment with NO domain leakage: every document of
    one registrable domain lands in the SAME split (evaluation on val/test
    otherwise measures memorized near-duplicates of train pages from the
    same site — templated sites make plain random splits dishonest).

    The unit of assignment is the PSL registrable domain
    (urls.with_registrable_domain; hosts that resolve to NULL — bare
    labels, IPs, public suffixes themselves — fall back to the raw host
    so they still group consistently). Assignment is a deterministic hash,
    not an RNG: bucket = first 4 md5 hex digits of the key / 65536, mapped
    onto the cumulative ``SPLIT_FRACTIONS`` boundaries — stable across
    runs, engines and cluster sizes.

    Scale shape: domain resolution is the existing distinct-host join
    (bounded by |hosts|, not |docs|); the split itself is pure
    expressions — zero additional shuffle. Fractions hold in expectation
    over DOMAINS (not documents: one huge domain lands wholly in one
    split by design — that is the point).
    """
    from .urls import with_registrable_domain

    out = with_registrable_domain(df, host_col=host_col)
    key = F.coalesce(F.col("registrable_domain"), F.col(host_col))
    bucket = F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int")
    expr = None
    cum = 0.0
    for name, frac in SPLIT_FRACTIONS[:-1]:
        cum += frac
        cond = bucket < int(round(cum * 65536))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return out.withColumn(out_col, expr.otherwise(SPLIT_FRACTIONS[-1][0]))


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement in one pass
    (Efraimidis-Spirakis 2006): each row gets key = u**(1/w) with u an
    md5-derived uniform in (0,1), and the k largest keys ARE a weighted
    sample — inclusion probability proportional to weight, no sequential
    draws. Returns ``(id, weight, es_key, sample_rank)``.

    The standard reservoir generalization for "sample 10M docs
    proportional to token count" over a corpus too large to draw from
    sequentially. Deterministic: u is a hash, not an RNG, the same trick
    as leakage_safe_split's bucket hash.

    Scale shape: one narrow map (hash + pow) and a top-k — Spark plans
    orderBy().limit(k) as TakeOrderedAndProject, a per-partition heap +
    tree reduction, NO full sort and NO shuffle of the corpus. Rows with
    non-positive weight are excluded (they can never be drawn).
    """
    idc = F.col(id_col).cast("string")
    u = (
        F.conv(F.substring(F.md5(idc), 1, 8), 16, 10)
        .cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    cand = (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.col(weight_col).cast("long").alias("weight"),
            F.pow(u, 1.0 / F.col(weight_col).cast("double")).alias("_key"),
        )
    )
    sel = cand.orderBy(F.desc("_key"), "id").limit(k)
    w = Window.orderBy(F.desc("_key"), "id")
    return sel.withColumn(
        "sample_rank", F.row_number().over(w).cast("long")
    ).select("id", "weight", F.round("_key", 6).alias("es_key"), "sample_rank")


def unimax_allocation(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: float = 2.0,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """UniMax budget split across languages (Chung et al., "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", ICLR 2023): give every language an equal
    share of ``budget_tokens``, except a language may contribute at most
    ``max_epochs`` passes over its own data — leftover from those capped
    (low-resource) languages is re-split uniformly over the rest.
    Temperature sampling (domain_temperature_sample) still OVER-samples
    tiny languages into dozens of repeat epochs at large budgets; the
    epoch cap is the fix.

    The iterative waterfilling has a closed relational form: order
    languages by capacity ``c = max_epochs * n_tokens`` ascending — the
    capped set is always a PREFIX of that order (if a language's equal
    share of what remains exceeds its capacity, so does every larger
    language's), and a language is capped iff

        c_i * (k - i + 1) <= budget - prefix_{i-1}

    (i = ascending capacity rank, k = number of languages, prefix =
    running capacity sum), an integer-free comparison on doubles that one
    window computes; the uncapped share is then
    ``(budget - sum of capped capacities) / n_uncapped``, a 1-row
    broadcast aggregate. Returns one row per language: (lang, n_tokens,
    capped, alloc_tokens, epochs) with floats rounded to 4.

    Scale shape: the only corpus-sized work is the per-language token
    count (one groupBy); the window and the 1-row cross join run on the
    LANGUAGE table (hundreds of rows), so the allocation itself is free
    at any corpus size.
    """
    from .textstats import token_count

    k_tok = (
        docs.select(F.col(lang_col).alias("lang"), token_count(F.col(text_col)).alias("t"))
        .groupBy("lang")
        .agg(F.sum("t").cast("double").alias("n_tokens"))
    )
    cap = (F.col("n_tokens") * F.lit(float(max_epochs))).alias("c")
    w = Window.orderBy(F.col("c").asc(), F.col("lang").asc())
    ranked = (
        k_tok.select("lang", "n_tokens", cap)
        .withColumn("i", F.row_number().over(w))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0.0),
            ),
        )
        .withColumn("k", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    b = float(budget_tokens)
    capped = (F.col("c") * (F.col("k") - F.col("i") + 1)) <= (b - F.col("prefix"))
    flagged = ranked.withColumn("capped", capped)
    pool = flagged.agg(
        F.coalesce(F.sum(F.when(F.col("capped"), F.col("c"))), F.lit(0.0)).alias(
            "capped_mass"
        ),
        F.sum(F.when(~F.col("capped"), 1).otherwise(0)).alias("n_uncapped"),
    )
    alloc = F.when(F.col("capped"), F.col("c")).otherwise(
        (b - F.col("capped_mass")) / F.col("n_uncapped")
    )
    return (
        flagged.crossJoin(F.broadcast(pool))
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "capped",
            F.round(alloc, 4).alias("alloc_tokens"),
            F.round(alloc / F.col("n_tokens"), 4).alias("epochs"),
        )
    )
