"""Deduplication operators for training-data pipelines, at Spark scale.

Six families, each a composition of built-in DataFrame ops (no UDFs):

* exact           — hash-groupBy on a normalized-text digest
* minhash + LSH   — shingle → k min-hash signatures (md5 oracle-portable
                    or xxhash64 fast) → banded keys → bucket self-join
                    for candidate pairs
* simhash         — 16-bit majority-vote fingerprint from token hashes
* n-gram Jaccard  — exact pairwise similarity (verification-tier; run it on
                    LSH candidates, never the cross product, at scale)
* paragraph dedup — corpus-wide sub-document exact dedup with reassembly
* clustering      — connected components over candidate/verified pairs:
                    the keep/drop decision (pair enumeration is quadratic
                    in cluster size; the decision is linear)

Hash primitive is md5 hex (portable to the ANSI-SQL oracle). Shingling and
signatures are per-row higher-order functions — zero shuffles until the one
groupBy/join each algorithm fundamentally needs. At 10^12 docs the LSH
bucket join is the scalable path: candidate generation is O(n·bands) with a
shuffle keyed on (band, key), and AQE skew-split handles hot buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint, fixpoint, storage_scope
from .textstats import tokens_col

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_digest(text: Column) -> Column:
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (modulo whitespace/case) documents:
    (digest, dup_count, keep_id) for groups with >1 member.

    ``keep_id`` keeps the id column's NATIVE type (min over strings is
    deterministic lexicographic order) — the engine's primary keys are
    urls, and a long cast would throw CAST_INVALID_INPUT under Spark 4
    ANSI on the very first operator a curation pipeline runs."""
    return (
        df.select(F.col(id_col), normalized_digest(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count("*").cast("long").alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + minhash LSH
# ---------------------------------------------------------------------------


def shingles_col(text: Column) -> Column:
    """Distinct 3-word shingles (space-joined) of lowercased text."""
    toks = tokens_col(text)
    n = F.size(toks)
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, i + j) for j in range(3)]
            ),
        )
    )


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, s) — one row per k-shingle OCCURRENCE, fully whole-stage
    codegen: tokens materialize once per row, an index explode generates
    positions, and each shingle is a concat of k element_at lookups.

    This is the signature-path twin of ``shingles_col``: it emits the
    raw occurrence multiset (NO array_distinct), which is equivalent for
    every min-aggregate consumer (min over a multiset == min over its
    distinct set) and for distinct-counting consumers, while avoiding
    the interpreted per-element HOF transform and the per-doc array
    allocation entirely. Callers that need the distinct shingle SET as
    an array (Jaccard verification) still use ``shingles_col``."""
    toks = tokens_col(F.col(text_col))
    staged = df.filter(F.size(toks) >= shingle_k).select(
        F.col(id_col).alias("id"), toks.alias("_tk")
    )
    idx = F.sequence(F.lit(1), F.size("_tk") - (shingle_k - 1))
    return staged.select(
        "id", "_tk", F.explode(idx).alias("_i")
    ).select(
        "id",
        F.concat_ws(
            " ",
            *[
                F.try_element_at("_tk", F.col("_i") + j)
                for j in range(shingle_k)
            ],
        ).alias("s"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band
    of the documents' 3-shingle signatures.

    Plan shape at scale: narrow per-row signature compute → explode bands
    (×bands rows) → shuffle by (band, key) → within-bucket self-join →
    distinct. No cross product anywhere.

    ``hash_fn``: ``"md5"`` (default) keeps signatures reproducible in the
    ANSI-SQL oracle (min over md5 hex strings); ``"fast"`` uses seeded
    ``xxhash64`` longs — no hex materialization, long mins instead of
    string mins — the production choice at corpus scale (same banding
    semantics, different hash family, so candidate sets differ in the
    usual LSH-probabilistic way).

    Parameter note (measured, BENCH notes): ``rows_per_band = num_hashes /
    bands`` sets the LSH S-curve threshold ≈ ``(1/bands)^(1/r)``. Web-like
    corpora carry a heavy mass of boilerplate pairs at Jaccard 0.2-0.45,
    so shallow bands (r=2: threshold 0.5, loose curve) admit a
    near-cross-product of sub-threshold junk — 50k synthetic pages
    produced 47M candidates at r=2 vs 275k at r=8 with the same corpus.
    Production near-dup passes should run r≥4 (r=8 → threshold ≈0.77,
    the standard near-dup operating point).
    """
    # codegen occurrence explode then agg per-hash minima: one narrow
    # pass + one shuffle keyed on id. (Computing the signature as a
    # nested array expression would inline the shingle transform
    # num_hashes times — codegen blowup and redundant work; exploding a
    # distinct ARRAY via the HOF transform is interpreted per element —
    # min over the raw occurrence multiset is identical and all codegen.)
    sh = _exploded_shingles(df, id_col, text_col, 3)
    return _pairs_from_exploded_shingles(sh, num_hashes, bands, hash_fn)


def _band_table(
    sh: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(id, band, key) LSH band table from an exploded (id, s) shingle
    table. The unit every LSH consumer shares: self-join it for in-corpus
    pairs, persist it as the corpus INDEX for incremental dedup, join a
    new batch's table against a persisted one for increment-vs-corpus."""
    rows_per_band = num_hashes // bands
    if hash_fn == "fast":
        mins = [
            F.min(F.xxhash64(F.lit(h), F.col("s"))).alias(f"m{h}")
            for h in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{h}:"), F.col("s")))).alias(f"m{h}")
            for h in range(num_hashes)
        ]
    sig_df = sh.groupBy("id").agg(*mins)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|",
                *[
                    # explicit cast: 'fast' signatures are longs, and ANSI
                    # mode won't implicitly cast them for concat_ws
                    F.col(f"m{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _pairs_from_exploded_shingles(
    sh: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """Banded LSH candidate pairs from an exploded (id, s) shingle table —
    shared by minhash_candidate_pairs and verified_near_dup_pairs so the
    verifier can feed a MATERIALIZED shingle table instead of re-running
    the shingle HOF (measured: the interpreted higher-order transform is
    the dominant cost at ~18 µs/shingle, not the hashing)."""
    banded = _band_table(sh, num_hashes, bands, hash_fn)
    other = banded.select(
        F.col("id").alias("id_b"), F.col("band").alias("band_b"), F.col("key").alias("key_b")
    )
    return (
        banded.join(
            other,
            (F.col("band") == F.col("band_b"))
            & (F.col("key") == F.col("key_b"))
            & (F.col("id") < F.col("id_b")),
        )
        # ids keep their NATIVE type (url-keyed callers pass strings; a
        # cast('long') here would null them out and silently match nothing)
        .select(F.col("id").alias("id_a"), F.col("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# incremental dedup: persisted corpus index × new batch
# ---------------------------------------------------------------------------


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """The persistable corpus near-dup INDEX: ``(id, band, key)``, one row
    per (doc, band). Write it partitioned/bucketed by ``(band, key)`` next
    to the corpus; each daily increment then joins against it WITHOUT
    re-shingling the trillion-row corpus — the index is ``bands`` rows per
    corpus doc, and the increment side does all the new hashing. The
    geometry tuple (shingle_k, num_hashes, bands, hash_fn) is part of the
    index's identity: an increment probed with different parameters finds
    garbage — persist the tuple alongside (e.g. directory name) and assert
    it on read."""
    sh = _exploded_shingles(df, id_col, text_col, shingle_k)
    return _band_table(sh, num_hashes, bands, hash_fn)


def incremental_near_dups(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an existing corpus index
    (from ``minhash_band_index``, SAME geometry: 3-shingles, md5): distinct
    ``(new_id, corpus_id)``. Only the increment is shingled/hashed; the
    join runs on (band, key) — equi-join, broadcastable when the increment
    is small relative to the corpus (Catalyst/AQE decides; the new side's
    band table is ``bands`` rows per new doc).

    New-vs-new duplicates inside the batch are a separate concern: run
    ``minhash_candidate_pairs`` on the increment itself, then append the
    increment's band table to the index for the next cycle."""
    new_bands = minhash_band_index(
        new_df, id_col, text_col, 3, num_hashes, bands, "md5"
    )
    idx = index.select(
        F.col("id").alias("corpus_id"),
        F.col("band").alias("band_i"),
        F.col("key").alias("key_i"),
    )
    return (
        new_bands.join(
            idx,
            (F.col("band") == F.col("band_i")) & (F.col("key") == F.col("key_i")),
        )
        .select(F.col("id").alias("new_id"), F.col("corpus_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _token_bit(tok_md5: Column, bit: int) -> Column:
    """Bit ``bit`` (0..15 over the first 4 hex chars) of a token's md5."""
    nibble = F.position(F.substring(tok_md5, bit // 4 + 1, 1), F.lit(_HEX)) - 1
    return F.floor(nibble / (2 ** (bit % 4))) % 2


def simhash16(
    df: DataFrame,
    id_col: str | list[str] = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """16-bit simhash per document: bit b set iff the majority of tokens have
    bit b set in md5(token). Explode + single groupBy — one shuffle.
    ``id_col`` may be a list for composite keys (e.g. (url, capture_ts)
    snapshots — see ``capture_drift``)."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    toks = df.select(
        *[F.col(c) for c in ids],
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    votes = [
        F.sum(_token_bit(F.col("h"), b) * 2 - 1).alias(f"v{b}") for b in range(16)
    ]
    agg = toks.groupBy(*ids).agg(*votes)
    fp = None
    for b in range(16):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select(*[F.col(c) for c in ids], fp.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification tier)
# ---------------------------------------------------------------------------


def verified_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """The full production near-dup composition: banded MinHash candidate
    generation (bucket equi-join, no cross product) followed by exact
    Jaccard verification restricted to the candidate pairs — two id
    equi-joins to fetch shingle sets, then a per-row set intersection.

    This is the scale-correct end-to-end shape: the O(n²) exact measure
    only ever touches pairs the LSH surfaced (recall governed by the
    band/row geometry; verification removes LSH false positives).

    Cost structure (measured round 6): candidates come from the fully
    codegen occurrence explode (``_exploded_shingles`` — no interpreted
    HOF, no per-doc array materialization), and the distinct shingle
    ARRAYS needed for exact Jaccard are computed only for documents that
    actually appear in a candidate pair — a semi-join back to the input.
    The candidate pair list is the thing checkpointed (it is
    ids only, tiny next to a corpus-wide shingle-array table, and it is
    consumed three times: the pair list itself plus the two
    candidate-doc legs). At corpus scale the same shape holds: the LSH
    index never materializes shingle sets, and verification touches only
    the candidate neighborhood."""
    cands = checkpoint(_pairs_from_exploded_shingles(
        _exploded_shingles(df, id_col, text_col, 3),
        num_hashes, bands, hash_fn,
    ))
    cand_ids = (
        cands.select(F.col("id_a").alias("_vid"))
        .unionByName(cands.select(F.col("id_b").alias("_vid")))
        .distinct()
    )
    # native id type — must match minhash_candidate_pairs' id_a/id_b
    # (string ids under a cast('long') become NULL and join nothing)
    # no checkpoint here: both verification legs exchange this subtree
    # on the same key (_vid), so ReuseExchange evaluates it once — the
    # semi-join + shingle HOF over candidate docs runs a single time
    # inside the final job
    sh = df.join(
        cand_ids, df[id_col] == cand_ids["_vid"], "left_semi"
    ).select(
        F.col(id_col).alias("_vid"),
        shingles_col(F.col(text_col)).alias("_sh"),
    )
    joined = cands.join(
        sh.withColumnsRenamed({"_vid": "id_a", "_sh": "sh_a"}), "id_a"
    ).join(sh.withColumnsRenamed({"_vid": "id_b", "_sh": "sh_b"}), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        joined.select(
            "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact pairwise Jaccard over distinct 3-shingle sets, every pair —
    O(n²); intended for LSH candidate verification or small slices."""
    s = df.select(
        F.col(id_col).alias("id"),
        shingles_col(F.col(text_col)).alias("sh"),
    ).filter(F.size("sh") > 0)
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(inter / union, 6)
    return a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", jac.alias("jaccard")
    )


# ---------------------------------------------------------------------------
# sub-document (paragraph-level) corpus dedup
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup with document reassembly
    (the C4/RefinedWeb-style sub-document pass: a boilerplate paragraph
    repeated across thousands of pages is kept exactly once, in its
    first-occurring position).

    Explode paragraphs (split on newlines, trimmed, empties dropped), keep
    the first occurrence of each md5 digest corpus-wide (first = lowest
    (id, position) — deterministic), and reassemble each document from its
    surviving paragraphs in original order. Documents whose every
    paragraph appeared earlier elsewhere come back with empty text —
    downstream gates drop them.

    Scale shape: one explode, one window keyed on the digest (hash
    shuffle, AQE-coalesced; hot digests are single-key groups processed as
    one partition each — salting is unnecessary because the window only
    ranks by (id, position) and the 99.9th-percentile digest group is tiny
    compared to a partition), one groupBy(id) to reassemble. No cross
    products, no Python.
    """
    base = df.select(F.col(id_col).alias("_pid"), F.col(text_col).alias("_text"))
    paras = (
        base.select(
            "_pid",
            F.posexplode(F.split("_text", "\n")).alias("idx", "raw"),
        )
        .select("_pid", "idx", F.trim("raw").alias("para"))
        .filter(F.col("para") != "")
    )
    from pyspark.sql import Window

    first_seen = Window.partitionBy(F.md5("para")).orderBy("_pid", "idx")
    kept = (
        paras.withColumn("rn", F.row_number().over(first_seen))
        .filter(F.col("rn") == 1)
    )
    reassembled = kept.groupBy("_pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("deduped_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    return (
        base.select("_pid")
        .join(reassembled, "_pid", "left")
        .select(
            F.col("_pid").alias(id_col),
            F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over candidate/verified pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every id in ``pairs``; ``component`` is the
    minimum id reachable over the undirected pair graph — the canonical
    keep-id of the near-dup cluster. Pair ENUMERATION is quadratic in
    cluster size; the dedup decision needs this clustering instead: keep
    ``id == component``, drop the rest.

    Min-label propagation to fixpoint: each iteration joins labels across
    edges and takes the per-node minimum. Iterations = cluster diameter
    (near-dup clusters are shallow — boilerplate families link through
    hubs), each iteration one equi-join + one agg, all distributed, no
    driver-side data. The loop is ``materialize.fixpoint``.

    Deterministic: the fixpoint (min reachable id per node) is unique
    regardless of join order. Raises after ``max_iterations`` without
    convergence (pathological chain longer than the limit) rather than
    returning a partial clustering.
    """
    with storage_scope():
        # the edge table ONCE, hash-partitioned and sorted on src as in
        # links._edge_table: every iteration's edges⋈labels join reads it
        # exchange-free and sort-free instead of re-shuffling the
        # (src,dst)-partitioned distinct output each round
        edges = checkpoint(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .unionByName(
                pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
            )
            .distinct()
            .repartition(F.col("src"))
            .sortWithinPartitions("src")
        )

        def step(state: DataFrame) -> DataFrame:
            # the OLD label rides through the min-agg (non-null only on the
            # self arm, one per id since edge dsts ⊆ label ids), so the
            # convergence count is observed on the checkpoint job instead of
            # re-joining new labels against old. Labels only ever decrease,
            # so changed ⇔ any new label < old label.
            labels = state.select("id", "label")
            return (
                edges.join(labels, edges["src"] == labels["id"])
                .select(
                    F.col("dst").alias("id"),
                    "label",
                    F.lit(None).cast(labels.schema["label"].dataType).alias("old"),
                )
                .unionByName(
                    labels.select("id", "label", F.col("label").alias("old"))
                )
                .groupBy("id")
                .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            )

        labels = fixpoint(
            edges.select(F.col("src").alias("id")).distinct()
            .withColumn("label", F.col("id")),
            step,
            iterations=max_iterations,
            changed=F.count_if(F.col("label") < F.col("old")),
        )
    return labels.select("id", F.col("label").alias("component"))


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The corpus dedup DECISION: every document labeled with its near-dup
    cluster's canonical keep-id (its own id when unique). Composition:
    banded MinHash candidates → connected components → left join back so
    singletons label themselves. Downstream keeps ``id == component``."""
    pairs = minhash_candidate_pairs(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, bands=bands
    )
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("component"),
        )
    )


# ---------------------------------------------------------------------------
# crawl-snapshot dedup: latest capture per url
# ---------------------------------------------------------------------------


def latest_captures(
    df: DataFrame,
    id_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """One row per ``id_col``: the capture with the greatest ``ts_col``,
    plus ``n_captures`` (how many snapshots were collapsed).

    Common Crawl re-captures the same url across dumps; training corpora
    keep the newest snapshot (CCNet/RefinedWeb convention) BEFORE any
    content dedup, or identical re-captures inflate exact-dup groups and
    per-host counts. Among captures sharing the exact same timestamp one
    is chosen arbitrarily (fine when such rows are byte-identical
    re-captures).

    Scale shape: a single shuffle on the url key (row_number window +
    count over the same partition — one Exchange, both window functions
    share it). The url key is the engine's lineage/bucketing key, so over
    a bucketed pages table this window is shuffle-free.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col)
    ordered = w.orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(ordered))
        .withColumn("n_captures", F.count("*").over(w).cast("long"))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def capture_drift(
    df: DataFrame,
    id_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    changed_bits: int = 3,
) -> DataFrame:
    """Content drift between CONSECUTIVE captures of the same url:
    ``(id, prev_ts, ts, hamming, changed)`` — one row per adjacent
    snapshot pair, ``hamming`` the simhash16 distance, ``changed`` 1 iff
    ``hamming >= changed_bits``.

    The complement of ``latest_captures``: that operator picks which
    snapshot to KEEP; this one measures how much a page actually moved
    between dumps — the crawl-scheduling signal (static pages get longer
    revisit intervals; churn gets priority) and the incremental-corpus
    signal (an unchanged re-capture need not re-enter the dedup/quality
    cascade).

    Scale shape: an explicit repartition on the url key up front, which
    BOTH downstream shapes reuse — the per-(url, ts) simhash groupBy
    (hash(url) co-locates every finer (url, ts) group) and the per-url
    lag window — so the whole operator is one Exchange (plan-asserted in
    tests). Hamming is native ``bit_count(xor)``; nothing leaves the JVM.
    """
    from pyspark.sql.window import Window

    caps = df.select(id_col, ts_col, text_col).repartition(F.col(id_col))
    sim = simhash16(caps, [id_col, ts_col], text_col)
    w = Window.partitionBy(id_col).orderBy(ts_col)
    prev_h = F.lag("simhash").over(w)
    prev_ts = F.lag(ts_col).over(w)
    ham = F.bit_count(prev_h.bitwiseXOR(F.col("simhash"))).cast("long")
    return (
        sim.select(
            F.col(id_col),
            prev_ts.alias("prev_ts"),
            F.col(ts_col),
            ham.alias("hamming"),
        )
        .filter(F.col("prev_ts").isNotNull())
        .withColumn(
            "changed",
            F.when(F.col("hamming") >= changed_bits, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# frequency-based boilerplate line removal (CCNet/DataTrove-style)
# ---------------------------------------------------------------------------


def strip_frequent_lines(
    df: DataFrame,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str | None = None,
) -> DataFrame:
    """Remove lines that recur across >= ``min_docs`` DISTINCT documents
    (within ``scope_col`` when given — per-host is the crawl convention:
    nav bars, cookie banners, and footers repeat within a site, not
    across the web). Unlike ``dedup_paragraphs`` (which keeps the FIRST
    occurrence), a boilerplate line above the threshold is removed from
    EVERY document — chrome is noise wherever it appears.

    Returns ``(id, clean_text, n_lines, n_removed)`` with surviving
    lines rejoined in original order.

    Scale shape: one posexplode -> distinct (scope, digest, id) ->
    count per (scope, digest) -> join verdicts back on the digest key ->
    one groupBy(id) reassembly. All equi-joins on uniform hash keys; the
    document text itself is never shuffled (only digests and line
    payloads move). A hot digest (a line in 10^7 docs) is ONE group row
    after the count, so no skew salting is needed.
    """
    scope = F.col(scope_col) if scope_col is not None else F.lit("")
    base = df.select(
        F.col(id_col).alias("_lid"),
        scope.alias("_scope"),
        F.col(text_col).alias("_text"),
    )
    lines = (
        base.select(
            "_lid",
            "_scope",
            F.posexplode(F.split("_text", "\n")).alias("idx", "raw"),
        )
        .withColumn("line", F.trim("raw"))
        .filter(F.col("line") != "")
        .withColumn("_dig", F.md5("line"))
    )
    freq = (
        lines.select("_scope", "_dig", "_lid")
        .distinct()
        .groupBy("_scope", "_dig")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_scope", "_dig", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(freq, ["_scope", "_dig"], "left")
    kept = marked.filter(F.col("_boiler").isNull())
    stats = marked.groupBy("_lid").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_boiler"), 1).otherwise(0)).cast("long").alias(
            "n_removed"
        ),
    )
    reassembled = kept.groupBy("_lid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("idx"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text")
    )
    return (
        base.select(F.col("_lid"))
        .distinct()
        .join(reassembled, "_lid", "left")
        .join(stats, "_lid", "left")
        .select(
            F.col("_lid").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# exact-substring duplication signal (RefinedWeb / Lee et al. style)
# ---------------------------------------------------------------------------


def duplicate_ngram_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document exact-substring duplication signal: the fraction of
    the document's DISTINCT word 3-grams that also occur in at least one
    OTHER document. The scalable stand-in for suffix-array substring
    dedup (Lee et al. 2022): rather than rewriting documents around
    duplicated spans, it scores how much of each document is corpus-
    duplicated text, and the curation cascade thresholds it like any
    other gate.

    Returns ``(id, n_grams, dup_grams, dup_frac)`` for EVERY input row
    (documents shorter than 3 tokens report 0 grams, fraction 0.0).

    Scale shape: one explode of per-doc-distinct grams, one count agg on
    the gram digest, one join back on the same key, one per-doc agg —
    all uniform-hash shuffles; a gram present in 10^7 docs is one count
    row (the join back fans it out only to its actual occurrences).
    """
    grams = df.select(
        F.col(id_col).alias("_gid"),
        F.explode(shingles_col(F.col(text_col))).alias("s"),
    ).withColumn("_dig", F.md5("s")).drop("s")
    counts = grams.groupBy("_dig").agg(F.count("*").alias("_docs"))
    per_doc = (
        grams.join(counts, "_dig")
        .groupBy("_gid")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_grams"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_gid"))
        .join(per_doc, "_gid", "left")
        .select(
            F.col("_gid").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
            F.round(
                F.coalesce("dup_grams", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Exact-substring duplicate-span REMOVAL (the rewrite counterpart of
    the ``duplicate_ngram_fraction`` signal): every span of ``n``
    consecutive whitespace tokens that occurs ``min_count``-or-more times
    across the corpus (including repeats inside one document — Lee et al.
    2022's ExactSubstr convention: all occurrences go, byte-exact and
    case-sensitive) is cut from the document; overlapping and adjacent
    duplicated spans are merged before cutting so a long duplicated
    passage disappears as one region.

    Returns ``(id, clean_text, n_tokens, n_removed)`` for every input row
    (documents shorter than ``n`` tokens pass through unchanged).

    The published implementation builds a corpus suffix array — a
    fundamentally sequential index. This is the distributed restatement:

    1. one ``posexplode`` of per-doc gram digests (position == gram start);
    2. one count agg on the digest, keeping digests seen ≥ ``min_count``;
    3. join occurrences back (equi-join on the digest, uniform hash);
    4. per-doc island merge: ascending starts + fixed span length make a
       span mergeable iff ``start - prev_start <= n``, so lag + running
       sum inside ONE doc-keyed window produces merged intervals;
    5. rebuild: token ``i`` survives iff no merged interval covers it —
       a native two-arg ``filter`` over the token array against the
       collected (tiny) per-doc interval list; no second explode.

    Everything shuffles on doc id or digest — no all-pairs stage, no
    driver state; skew-safe because a gram in 10^7 docs is one count row.

    ``hash_fn``: "md5" (default — DuckDB-reproducible, the oracle mode) or
    "fast" (xxhash64 — 8-byte long digests instead of 32-char strings,
    ~4× less gram-shuffle volume; the production mode, same convention as
    ``minhash_candidate_pairs``). Semantics are identical up to digest
    collisions (~N²/2⁶⁴ — negligible below 10⁹ distinct grams; shard the
    corpus before that point regardless).
    """
    from pyspark.sql import Window

    digest = F.md5 if hash_fn == "md5" else F.xxhash64
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("_rid"), toks.alias("_tk"))
    ntk = F.size("_tk")
    starts = F.when(ntk >= n, F.sequence(F.lit(0), ntk - n)).otherwise(
        F.array().cast("array<int>")
    )
    # gram digests via a codegen index explode + n element_at lookups
    # (identical values to digesting transform+slice arrays — concat_ws
    # over a slice is concat_ws over its elements — but whole-stage
    # codegen instead of an interpreted per-gram lambda with a per-gram
    # slice allocation); the explode position IS the gram start
    occ = base.select(
        "_rid", "_tk", F.explode(starts).alias("_s")
    ).select(
        "_rid",
        "_s",
        digest(
            F.concat_ws(
                " ",
                *[F.try_element_at("_tk", F.col("_s") + j + 1) for j in range(n)],
            )
        ).alias("_dig"),
    )
    dup_digs = (
        occ.groupBy("_dig")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_dig")
    )
    w = Window.partitionBy("_rid").orderBy("_s")
    islands = (
        occ.join(dup_digs, "_dig")
        .select("_rid", "_s")
        .withColumn("_prev", F.lag("_s").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("_s") - F.col("_prev") > n),
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w))
    )
    intervals = (
        islands.groupBy("_rid", "_isl")
        .agg(F.min("_s").alias("_a"), (F.max("_s") + n).alias("_b"))
        .groupBy("_rid")
        .agg(F.collect_list(F.struct("_a", "_b")).alias("_ivs"))
    )
    ivs = F.coalesce(
        F.col("_ivs"), F.array().cast("array<struct<_a:int,_b:int>>")
    )
    kept = F.filter(
        F.col("_tk"),
        lambda t, i: ~F.exists(
            ivs, lambda v: (i >= v["_a"]) & (i < v["_b"])
        ),
    )
    return (
        base.join(intervals, "_rid", "left")
        .select(
            F.col("_rid").alias(id_col),
            F.array_join(kept, " ").alias("clean_text"),
            F.size("_tk").cast("long").alias("n_tokens"),
            (F.size("_tk") - F.size(kept)).cast("long").alias("n_removed"),
        )
    )


def cluster_representatives(
    df: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection over any cluster assignment
    (near-dup clusters, exact-dup groups, url captures): within each
    cluster the HIGHEST-``score_col`` member wins, smallest id breaking
    ties — upgrading ``near_dup_clusters``'s keep-smallest-id convention
    to keep-best-quality, the RefinedWeb/FineWeb practice of retaining
    the best-scoring representative instead of an arbitrary one.

    Returns the input id/cluster/score columns plus ``keep_id`` (the
    cluster's winner) and boolean ``keep``. One doc-cluster-keyed window,
    single Exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return df.select(
        id_col,
        cluster_col,
        score_col,
        F.first(id_col).over(w).alias("keep_id"),
    ).withColumn("keep", F.col(id_col) == F.col("keep_id"))


# ---------------------------------------------------------------------------
# asymmetric containment (superset / quote-inclusion detection)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Directed 3-shingle containment c(A->B) = |A ∩ B| / |A| (Broder 1997's
    containment, the asymmetric companion of resemblance/Jaccard): how much
    of document A's shingle set appears inside B. A short quote wholly
    embedded in a long page scores c ≈ 1.0 while its Jaccard is tiny —
    the case symmetric near-dup tiers structurally miss (a training-data
    concern: aggregation pages re-hosting whole short documents).

    Returns (id_a, id_b, containment) for ORDERED pairs id_a != id_b with
    c(A->B) >= threshold; both directions are reported independently
    (c(A->B) high + c(B->A) low is precisely the subset signal).

    Verification tier, O(n²) like jaccard_pairs — at corpus scale feed it
    LSH candidates instead (compose with minhash_candidate_pairs exactly
    as verified_near_dup_pairs does; containment-biased candidates want
    per-band keys from the SHORTER side's signature, which banded MinHash
    already approximates for c >= the band threshold).
    """
    s = df.select(
        F.col(id_col).alias("id"),
        shingles_col(F.col(text_col)).alias("sh"),
    ).filter(F.size("sh") > 0)
    a = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont = F.round(inter / F.size("sh_a").cast("double"), 6)
    return (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup (length-banded blocking + native levenshtein)
# ---------------------------------------------------------------------------


def edit_distance_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 8,
    band: int = 64,
) -> DataFrame:
    """Near-identical document pairs under TRUE edit distance: length-banded
    candidate blocking, then Spark's native banded-DP ``levenshtein(l, r,
    threshold)`` verify (O(len·max_dist) per pair, not O(len²)).

    Completeness argument (pigeonhole): ``|len(a) - len(b)| <=
    levenshtein(a, b)``, so with bucket width ``band >= max_dist`` every
    within-threshold pair lands in the same or an adjacent length bucket.
    The probe side emits (bucket, bucket+1) keys; same-bucket matches are
    kept once via id order, cross-bucket matches are oriented by the
    bucket step, and ids are normalized afterwards — each unordered pair
    verifies exactly once.

    Plan shape at scale: one narrow projection -> explode 2 probe keys ->
    bucket equi-join -> length pre-filter -> per-row banded levenshtein.
    The quadratic risk concentrates in a single hot length bucket (e.g.
    a corpus of fixed-size templated pages); blend in a second blocking
    key there (dedup-family digest prefix, or run on LSH candidates) —
    the same escalation path every banded tier in this module documents.

    Returns (id_a, id_b, edit_dist) with id_a < id_b and edit_dist in
    [0, max_dist].
    """
    if band < max_dist:
        raise ValueError("band must be >= max_dist for adjacency to cover")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("t"),
        F.floor(F.length(text_col) / band).cast("long").alias("bkt"),
    )
    probes = base.select(
        F.col("id").alias("id_p"),
        F.col("t").alias("t_p"),
        F.col("bkt").alias("bkt_own"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("bkt_probe"),
    )
    joined = probes.join(
        base.select(
            F.col("id").alias("id_q"), F.col("t").alias("t_q"), F.col("bkt")
        ),
        F.col("bkt_probe") == F.col("bkt"),
    ).filter(
        # same bucket: keep one orientation; adjacent: orientation is the
        # bucket step itself (own -> own+1), unique per unordered pair
        ((F.col("bkt_own") == F.col("bkt")) & (F.col("id_p") < F.col("id_q")))
        | (F.col("bkt_own") != F.col("bkt"))
    ).filter(
        F.abs(F.length("t_p") - F.length("t_q")) <= max_dist
    )
    dist = F.levenshtein(F.col("t_p"), F.col("t_q"), max_dist)
    return (
        joined.select(
            F.least("id_p", "id_q").alias("id_a"),
            F.greatest("id_p", "id_q").alias("id_b"),
            dist.cast("long").alias("edit_dist"),
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
    )
