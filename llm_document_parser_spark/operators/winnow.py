"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm), as native DataFrame expressions.

Winnowing selects, from the rolling k-gram hash sequence of a document,
the minimum hash of every w-hash window. The selected set is a *local*
fingerprint: any substring shared between two documents of length
``>= w + k - 1`` characters is GUARANTEED to contribute at least one
common fingerprint — a recall guarantee MinHash (a global, probabilistic
sketch) cannot make. Expected density is ``2 / (w + 1)`` of the gram
positions, so the index stays small.

This is the partial-overlap / plagiarism / quote-detection tier of the
dedup family (dedup.py holds the whole-document tiers):

* ``winnow_fingerprints``   — per-document selected-hash set (the index)
* ``winnow_overlap_pairs``  — pairs sharing >= min_shared fingerprints,
                              via one fingerprint-keyed equi-join

Everything is per-row higher-order functions over md5 hex strings (the
oracle-portable hash; lexicographic min == hash min) — zero Python, and
zero shuffles until the one equi-join pairing fundamentally needs.

At 10^12 documents: the fingerprint table is ~2/(w+1) rows per gram —
explode it, equi-join on the fingerprint value, AQE skew-split handles
hot fingerprints, and ``max_df`` drops corpus-wide boilerplate
fingerprints (a distinct-doc count filter, same discipline as
dedup.strip_frequent_lines) before they can form near-cross-products.

Reference scope note: the reference engine has no sub-document overlap
detection at all (its dedup surface is per-field exact values,
src/document_parser.py); this operator family is part of the
LLM-training-pipeline tier the brief adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint


def _clean(text: Column) -> Column:
    """Whitespace-collapsed lowercase text (the dedup-family normalization,
    identical to dedup.normalized_digest's preimage)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def _gram_hashes_of_clean(clean: Column, k: int, hash_fn: str) -> Column:
    """Hashes of the character k-grams of text that is ALREADY
    whitespace-normalized (``_clean`` staged in a prior projection), in
    position order; < k chars -> empty array. The lambda body references
    only cheap per-element expressions (substr + hash) on the input
    column: Catalyst does not CSE inside HOF lambdas, so an inline
    ``_clean`` would re-run once PER GRAM POSITION.

    ``hash_fn="md5"`` yields ARRAY<STRING> of hex digests — the
    oracle-portable mode (DuckDB computes identical values; lexicographic
    min == hash min). ``"fast"`` yields ARRAY<BIGINT> of ``xxhash64``
    values — 8-byte longs instead of 32-char strings, and window minima
    become integer compares."""
    n = F.length(clean)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    if hash_fn == "fast":
        return F.transform(idx, lambda i: F.xxhash64(F.substr(clean, i, F.lit(k))))
    return F.transform(idx, lambda i: F.md5(F.substr(clean, i, F.lit(k))))


def winnow_from_grams(hs: Column, w: int = 4) -> Column:
    """The winnowed fingerprint SET (distinct selected hashes) from an
    ALREADY-MATERIALIZED gram-hash array column: min hash of every
    w-window over the sequence.

    Documents with fewer than w grams (but at least one) select the
    single global minimum — the standard short-document degeneration;
    gram-less documents select nothing.

    Each strict window's minimum is ONE ``least`` over ``w``
    ``try_element_at`` lookups, inside a single ``transform`` over the
    window-start positions — no slices and no intermediate arrays.
    This replaced the earlier sparse-table-doubling form: the doubling's
    claimed O(n log w) never held in practice (each pass references the
    previous pass twice and Catalyst does no CSE inside HOF lambdas, so
    evaluated work was O(n·w) regardless — the round-5 ADVICE note), and
    its per-pass ``slice``/``zip_with`` array allocations made it ~50%
    slower than this allocation-free form at the 50k-page bench leg
    (1.56 s → 1.05 s fingerprint stage, identical output in identical
    order). The ORIGINAL naive form — per-window ``slice + array_min``,
    a w-element array allocation per window position — measured >500 s
    on the same leg; allocations, not comparisons, are the cost here.

    ``hs`` MUST be a real column (a prior projection), not the inline
    ``_gram_hashes_of_clean`` expression: Catalyst does not
    common-subexpression-eliminate inside higher-order-function lambdas —
    an inline gram expression would be RECOMPUTED per window position.
    ``winnow_fingerprints`` stages the projections correctly.

    ``least`` on md5 hex strings is lexicographic == hash order (the
    documented md5 mode contract); on xxhash64 longs it is integer
    order (fast mode). All lookups are in-bounds by construction
    (position i ≤ g-w+1 ⇒ i+w-1 ≤ g); ``try_element_at`` keeps the
    expression total under ANSI regardless.
    """
    g = F.size(hs)
    if w <= 1:
        full = hs  # windows of 1: every element is its own minimum
    else:
        idx = F.when(g >= w, F.sequence(F.lit(1), g - (w - 1))).otherwise(
            F.array().cast("array<int>")
        )
        full = F.transform(
            idx,
            lambda i: F.least(
                *[F.try_element_at(hs, i + j) for j in range(w)]
            ),
        )
    # degenerate cases keep the element type via slice-to-empty
    return F.array_distinct(
        F.when(g >= w, full)
        .when(g > 0, F.array(F.array_min(hs)))
        .otherwise(F.slice(hs, 1, 0))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, fingerprints) — one row per input document; element type is
    STRING (md5 hex) or BIGINT (``hash_fn="fast"``), see _gram_hashes_of_clean.

    Two staged projections: grams materialize once per row, then the
    window minima slice the stored array (see ``winnow_from_grams`` for
    why collapsing these into one expression is quadratic). Catalyst's
    CollapseProject keeps them apart — the gram expression is non-cheap
    and multiply-referenced — asserted by tests/test_winnow.py's
    density-bound timing canary."""
    # three staged projections: the cleaned text materializes first (the
    # HOF lambda must not reference the whitespace-collapse regex — no
    # CSE inside lambdas, it would re-run per gram position), then grams,
    # then the window minima over the stored array.
    cleaned = df.select(
        F.col(id_col).alias("id"), _clean(F.col(text_col)).alias("_ct")
    )
    grams = cleaned.select(
        "id", _gram_hashes_of_clean(F.col("_ct"), k, hash_fn).alias("_hs")
    )
    return grams.select(
        "id", winnow_from_grams(F.col("_hs"), w).alias("fingerprints")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id_a, id_b, shared_fps) — document pairs sharing at least
    ``min_shared`` winnowed fingerprints, id_a < id_b.

    Plan shape: narrow per-row fingerprint HOF -> explode -> (optional
    hot-fingerprint drop) -> one equi-join keyed on the fingerprint value
    -> pair groupBy. No cross product; the join fan-out per fingerprint
    is its document frequency, which ``max_df`` bounds (fingerprints in
    more than max_df documents are site chrome / license boilerplate,
    not overlap evidence — the same reasoning as frequent-line removal).
    """
    fps = winnow_fingerprints(df, id_col, text_col, k, w, hash_fn)
    # Materialize the fingerprint ARRAYS before exploding, for two
    # reasons. (1) The explode's Generate node evaluates its child with
    # NO subexpression elimination, so the zip_with doubling chain (which
    # references each pass twice) re-evaluates exponentially under it —
    # measured 140 s for the explode vs 5.5 s for the identical
    # computation in a projection on 50k pages; materializing first makes
    # the explode read stored arrays. (2) The exploded table feeds the
    # hot-fingerprint count AND both sides of the pair self-join — the
    # lineage cut keeps the gram+window computation from running three
    # times (the bpe_train lesson).
    ex = checkpoint(fps).select(
        "id", F.explode("fingerprints").alias("fp")
    )
    if max_df is not None:
        hot = (
            ex.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("fp")
        )
        ex = ex.join(F.broadcast(hot), "fp", "left_anti")
    other = ex.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        ex.join(
            other,
            (F.col("fp") == F.col("fp_b")) & (F.col("id") < F.col("id_b")),
        )
        .groupBy(F.col("id").alias("id_a"), F.col("id_b"))
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
