"""X4 — named-entity extraction.

The reference uses spaCy ``en_core_web_sm`` (reference:
src/document_parser.py:443-460), which is not available in this environment.
The engine therefore ships a deterministic rule-based NER with the same
output contract (map of PERSON/ORG/GPE/DATE/MONEY/PRODUCT → order-preserving
deduped string lists, all six keys always present) implemented as native
``regexp_extract_all`` expressions — JVM-side, no Python at all, which also
fixes the reference's 4×-per-document spaCy cost (SURVEY.md §4.2 item 1).

When spaCy is installed, ``spacy_entities_stage`` (a mapInPandas stage
batching ``nlp.pipe`` over Arrow batches) swaps in behind the same column
contract — ``pipeline.extract_pipeline`` selects it automatically when
``HAS_SPACY`` (or explicitly via ``use_spacy_ner=True``). The import is
gated the same way the reference gates OCR (reference:
src/document_parser.py:22-28); the seam is tested with a pickled fake
``nlp`` factory in tests/test_real_library_gates.py.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StringType, StructField, StructType

if TYPE_CHECKING:  # matches imports this module
    from .matches import Shared

try:  # pragma: no cover - optional heavy dependency
    import spacy  # type: ignore  # noqa: F401

    HAS_SPACY = True
except Exception:  # pragma: no cover
    HAS_SPACY = False

# Lexicons shared with datagen — the rule-NER is exact on synthetic fixtures.
_FIRST = "John|Jane|Robert|Emily|Michael|Sarah|Ethan|Olivia"
_CITY = "New York|Los Angeles|Chicago|Houston|Phoenix|Seattle"

# entity label -> (java_pattern, group)
NER_PATTERNS: dict[str, tuple[str, int]] = {
    "PERSON": (rf"\b(?:{_FIRST})\s+[A-Z][a-z]+\b", 0),
    # the capitalized-word run is BOUNDED ({0,8}): Java regex executes group
    # loops recursively, so the unbounded original StackOverflowErrors the
    # executor on a degenerate 20k-capitalized-word line (and Python re
    # backtracks it in O(n²)). Real org names are far under 9 words; only
    # hostile runs change behavior (same guard class as patterns.py).
    "ORG": (r"\b[A-Z][A-Za-z]*(?:\s+[A-Z][A-Za-z]*){0,8}\s+(?:Inc|LLC|Corp|Ltd|Industries|Company)\b", 0),
    "GPE": (rf"\b(?:{_CITY})\b", 0),
    "DATE": (r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b", 0),
    "MONEY": (r"\$\d+(?:,\d{3})*(?:\.\d{2})?", 0),
    "PRODUCT": (r"\b(?:PROD|STK|INV|CTR|JOB)-\d+\b", 0),
}

ENTITY_LABELS = list(NER_PATTERNS)

# ---------------------------------------------------------------------------
# context-cued fallback tier (gazetteer-free)
# ---------------------------------------------------------------------------
# The lexicon above is exact on synthetic fixtures but recalls ~0 on real
# text. These cue rules recover PERSON/GPE from CONTEXT instead of a name
# list: label anchors (TO:/FROM:/Attn:), honorifics, "<verb> by", and
# "City, ST 12345" shapes. Same contract as spaCy NER, no library needed
# (reference analog: src/document_parser.py:443-460). No lookarounds —
# each pattern compiles identically under Java regex and Python ``re``
# (the oracle in tests/oracle_ref.py mirrors them verbatim).
#
# Trailing \b matters: "Ethan Williams TechNova" must yield "Ethan
# Williams", not "Ethan Williams Tech" (no word boundary inside TechNova).
# All group loops are BOUNDED (names ≤6 words, cue lists ≤25 names): Java's
# recursive matcher StackOverflowErrors on unbounded loops over degenerate
# capitalized-word runs (tests/test_hostile_payloads.py drives this shape).
_NAME = r"[A-Z][a-z]+(?:\s+[A-Z][a-z]+){1,5}"
_PLACE = r"[A-Z][a-z]+(?:\s+[A-Z][a-z]+)?"

# (java_pattern, is_comma_list) — group 1 is always the capture; comma-list
# captures are split on ",\s*" afterward ("TO: A B, C D, E F" → 3 persons)
CUE_PATTERNS: dict[str, list[tuple[str, bool]]] = {
    "PERSON": [
        (
            rf"\b(?:TO|FROM|CC|ATTN|ATTENTION|To|From|Attn|Attention|Staff|Attorney)"
            rf"\s*:\s*((?:{_NAME})(?:,\s*(?:{_NAME})){{0,24}})\b",
            True,
        ),
        (rf"\b(?:Mr|Mrs|Ms|Dr|Prof|Sir)\.?\s+({_NAME})\b", False),
        (
            rf"\b(?:[Ss]igned|[Pp]repared|[Aa]pproved|[Aa]uthorized|[Rr]eviewed|[Ss]ubmitted)"
            rf"\s+[Bb]y\s*:?\s*({_NAME})\b",
            False,
        ),
    ],
    "GPE": [
        (rf"\b({_PLACE}),\s*[A-Z]{{2}}\s+\d{{5}}\b", False),  # City, ST 12345
        (rf"\b(?:City|Location)\s*:\s*({_PLACE})\b", False),
        (
            rf"\b(?:[Ll]ocated in|[Bb]ased in|[Hh]eadquartered in|[Cc]ity of)\s+({_PLACE})\b",
            False,
        ),
    ],
}


def entity_matches(text: Column, label: str, dedup: bool = True) -> Column:
    """ARRAY<STRING> of matches for one entity label (order-preserving dedup,
    matching the reference's membership-check-before-append, reference:
    src/document_parser.py:455-458). Concatenation order is part of the
    spec: lexicon matches first, then each cue pattern in declaration
    order — the oracle replicates it exactly."""
    pat, grp = NER_PATTERNS[label]
    arr = F.coalesce(F.regexp_extract_all(text, F.lit(pat), grp), F.array())
    for cue_pat, is_list in CUE_PATTERNS.get(label, []):
        cue = F.coalesce(F.regexp_extract_all(text, F.lit(cue_pat), 1), F.array())
        if is_list:
            cue = F.flatten(F.transform(cue, lambda r: F.split(r, r",\s*")))
        arr = F.concat(arr, cue)
    return F.array_distinct(arr) if dedup else arr


def entities_map(text: Column, shared: Shared | None = None) -> Column:
    """MAP with all six labels always present (reference initializes every
    key, src/document_parser.py:446-453). ``shared`` supplies the PERSON, ORG and GPE match arrays and, for MONEY, the
    currency array, whose pattern is MONEY's."""
    from_shared = {}
    if shared is not None:
        from_shared = {
            "PERSON": shared.person,
            "ORG": shared.org,
            "GPE": shared.gpe,
            "MONEY": shared.currency,
        }
    keys = F.array(*[F.lit(lbl) for lbl in ENTITY_LABELS])
    vals = F.array(
        *[
            F.array_distinct(from_shared[lbl]) if lbl in from_shared else entity_matches(text, lbl)
            for lbl in ENTITY_LABELS
        ]
    )
    return F.map_from_arrays(keys, vals)


def spacy_model_available(model: str = "en_core_web_sm") -> bool:
    """True only when spaCy is importable AND the named model package is
    installed. ``import spacy`` succeeding is not enough to auto-select the
    real-NER path: ``spacy.load`` would then raise OSError on every executor
    at runtime. Path-based/linked models that ``is_package`` can't see are
    still usable via explicit ``use_spacy_ner=True``."""
    if not HAS_SPACY:
        return False
    try:
        return bool(spacy.util.is_package(model))
    except Exception:
        return False


def _default_nlp_factory(model: str) -> Callable[[], object]:
    def factory():  # pragma: no cover - needs the real library
        # parser/lemmatizer aren't needed for .ents; dropping them is the
        # standard nlp.pipe throughput lever
        return spacy.load(model, exclude=["parser", "lemmatizer"])

    return factory


def spacy_entities_stage(
    df: DataFrame,
    text_col: str = "extracted_text",
    out_col: str = "entities",
    model: str = "en_core_web_sm",
    nlp_factory: Callable[[], object] | None = None,
) -> DataFrame:
    """Real-NER path (reference: src/document_parser.py:443-460) as ONE
    mapInPandas stage: each Arrow batch's texts go through ``nlp.pipe``
    (the batched fast path — the reference calls ``self.nlp(text)``
    per-document), entities fold into the same MAP<label, ARRAY<text>>
    contract as ``entities_map`` (all six keys, order-preserving dedup per
    label, reference :455-458).

    ``nlp_factory`` is called once per task on the executor (the model never
    ships through the driver); tests inject a fake factory here — the
    library itself isn't installable in this environment.
    """
    if nlp_factory is None:
        if not HAS_SPACY:
            raise RuntimeError(
                "spaCy is not installed; pass nlp_factory or use entities_map"
            )
        nlp_factory = _default_nlp_factory(model)

    out_schema = StructType(
        [f for f in df.schema.fields if f.name != out_col]
        + [StructField(out_col, MapType(StringType(), ArrayType(StringType())))]
    )
    labels = list(ENTITY_LABELS)

    def run(batches: Iterator) -> Iterator:
        nlp = nlp_factory()
        for pdf in batches:
            texts = pdf[text_col].fillna("").tolist()
            ents_col = []
            for doc in nlp.pipe(texts, batch_size=64):
                ents: dict[str, list[str]] = {lbl: [] for lbl in labels}
                for ent in doc.ents:
                    label = ent.label_
                    if label in ents and ent.text not in ents[label]:
                        ents[label].append(ent.text)
                ents_col.append(ents)
            if out_col in pdf.columns:
                pdf = pdf.drop(columns=[out_col])
            pdf[out_col] = ents_col
            yield pdf

    return df.mapInPandas(run, out_schema)
