"""Pure-Python golden oracle for the reference's row-level semantics.

Each function here re-implements — bit-exactly, but in our own code — a
behavior of JonasHeinickeBio/ontology-mapper that our Spark expressions and
operators must reproduce. Tests compare the Spark side against these
functions on adversarial inputs; the KG pipeline's P/R >= 0.95 gate scores
against golden mapping sets produced by this module.

Reference citations (file:line into /root/reference/) are given per function.
This module is dependency-free on purpose (the reference's utils/helpers.py
imports nothing either), so it runs anywhere the test suite runs.
"""

from __future__ import annotations

import hashlib
from typing import Any

# ---------------------------------------------------------------------------
# text normalization
# ---------------------------------------------------------------------------

# Order matters: the reference strips only the FIRST matching prefix
# (utils/helpers.py:17-26, note the `break` at line 26).
STOCK_PREFIXES: tuple[str, ...] = (
    "A ",
    "An ",
    "The ",
    "This is a ",
    "This is an ",
    "This is the ",
    "Definition: ",
    "Description: ",
)

DESCRIPTION_MAX = 200  # utils/helpers.py:33-34 — >200 chars -> first 197 + "..."


def clean_description(text: str | None) -> str:
    """Whitespace-squeeze, strip one stock prefix, capitalize, truncate.

    Mirrors /root/reference/utils/helpers.py:8-36 exactly, including the
    single-prefix `break` and the 197+'...' truncation.
    """
    if not text:
        return ""
    out = " ".join(text.split())
    for prefix in STOCK_PREFIXES:
        if out.startswith(prefix):
            out = out[len(prefix):]
            break
    if out:
        out = out[0].upper() + out[1:]
    if len(out) > DESCRIPTION_MAX:
        out = out[: DESCRIPTION_MAX - 3] + "..."
    return out


def dedupe_synonyms(synonyms: list[str] | None, existing_labels: set[str]) -> list[str]:
    """Order-sensitive synonym dedup + quality filter + (len, lower) sort.

    Mirrors /root/reference/utils/helpers.py:39-73:
      * blank / whitespace-only entries dropped;
      * first occurrence of each lower().strip() form wins (value kept is the
        stripped original of that first occurrence);
      * forms already in `existing_labels` dropped;
      * forms shorter than 3 chars dropped;
      * final sort key is (len(kept_value), kept_value.lower()).
    """
    if not synonyms:
        return []
    kept: list[str] = []
    seen: set[str] = set()
    for raw in synonyms:
        if not raw or not raw.strip():
            continue
        form = raw.lower().strip()
        if form in seen or form in existing_labels:
            continue
        if len(form) < 3:
            continue
        kept.append(raw.strip())
        seen.add(form)
    kept.sort(key=lambda v: (len(v), v.lower()))
    return kept


# ---------------------------------------------------------------------------
# the entity-linking classifier (C1) — decides every mapping predicate
# ---------------------------------------------------------------------------

BROADER_HINTS: tuple[str, ...] = ("disease", "disorder", "condition", "syndrome")
NARROWER_HINTS: tuple[str, ...] = ("symptom", "sign", "manifestation")

# alignment class -> emitted predicate CURIE (core/generator.py:249-264)
ALIGNMENT_PREDICATE: dict[str, str] = {
    "exact": "skos:exactMatch",
    "close": "skos:closeMatch",
    "related": "skos:relatedMatch",
    "broader": "skos:broadMatch",
    "narrower": "skos:narrowMatch",
}
DEFAULT_PREDICATE = "rdfs:seeAlso"


def alignment_type(label: str | None, synonyms: list[str] | None, concept_key: str) -> str:
    """Classify a (candidate, concept) pair into an alignment class.

    Mirrors /root/reference/utils/helpers.py:76-105 bit-exactly, including
    the empty-label quirk: '' is a substring of everything, so an empty
    candidate label classifies as 'close' unless the concept label is also
    empty (then 'exact').
    """
    label_l = (label or "").lower()
    concept_label = concept_key.lower().replace("_", " ")
    key_l = concept_key.lower()

    if label_l == concept_label:
        return "exact"
    if concept_label in [(s or "").lower() for s in (synonyms or [])]:
        return "exact"
    if concept_label in label_l or label_l in concept_label:
        return "close"
    if any(h in label_l for h in BROADER_HINTS) and key_l in ("symptom", "sign"):
        return "broader"
    if any(h in label_l for h in NARROWER_HINTS) and key_l in ("disease", "disorder"):
        return "narrower"
    return "related"


def alignment_predicate(label: str | None, synonyms: list[str] | None, concept_key: str) -> str:
    """Alignment class -> SKOS/RDFS predicate, per core/generator.py:249-264."""
    return ALIGNMENT_PREDICATE.get(alignment_type(label, synonyms, concept_key), DEFAULT_PREDICATE)


# ---------------------------------------------------------------------------
# result combination / comparison (core/lookup.py, services/comparator.py)
# ---------------------------------------------------------------------------


def combine_results(bp_results: list[dict], ols_results: list[dict]) -> list[dict]:
    """URI-priority union: BioPortal rows first, first-seen URI wins; OLS
    survivors get ols_only=True. Mirrors core/lookup.py:68-87."""
    out: list[dict] = []
    taken: set[str] = set()
    for row in bp_results:
        if row["uri"] not in taken:
            out.append(dict(row))
            taken.add(row["uri"])
    for row in ols_results:
        if row["uri"] not in taken:
            marked = dict(row)
            marked["ols_only"] = True
            out.append(marked)
            taken.add(row["uri"])
    return out


def compare_results(bp_results: list[dict], ols_results: list[dict], concept: str) -> dict[str, Any]:
    """Label-keyed BP-vs-OLS comparison. Mirrors services/comparator.py:14-71.

    Note the reference keys each side by lower(label) via a dict — when a
    service returns two rows with the same lowered label, the LAST one wins.
    """
    bp_by_label = {r["label"].lower(): r for r in bp_results}
    ols_by_label = {r["label"].lower(): r for r in ols_results}

    common = sorted(set(bp_by_label) & set(ols_by_label))
    common_terms = [
        {
            "label": bp_by_label[k]["label"],
            "bioportal_uri": bp_by_label[k]["uri"],
            "ols_uri": ols_by_label[k]["uri"],
            "bioportal_ontology": bp_by_label[k]["ontology"],
            "ols_ontology": ols_by_label[k]["ontology"],
            "uri_match": bp_by_label[k]["uri"] == ols_by_label[k]["uri"],
        }
        for k in common
    ]
    bp_only = [bp_by_label[k] for k in sorted(set(bp_by_label) - set(ols_by_label))]
    ols_only = [ols_by_label[k] for k in sorted(set(ols_by_label) - set(bp_by_label))]

    discrepancies: list[str] = []
    if len(bp_results) != len(ols_results):
        discrepancies.append(
            f"Result count differs: BioPortal={len(bp_results)}, OLS={len(ols_results)}"
        )
    if bp_only:
        discrepancies.append(f"BioPortal has {len(bp_only)} unique term(s)")
    if ols_only:
        discrepancies.append(f"OLS has {len(ols_only)} unique term(s)")
    mismatches = [t for t in common_terms if not t["uri_match"]]
    if mismatches:
        discrepancies.append(f"{len(mismatches)} common term(s) have different URIs")

    return {
        "concept": concept,
        "bioportal_count": len(bp_results),
        "ols_count": len(ols_results),
        "common_terms": common_terms,
        "bioportal_only": bp_only,
        "ols_only": ols_only,
        "discrepancies": discrepancies,
    }


# ---------------------------------------------------------------------------
# keys / identifiers
# ---------------------------------------------------------------------------


def cache_key(query: str, ontologies: str, service: str) -> str:
    """sha256 of 'lower(trim(q))|UPPER(TRIM(o))|lower(service)'.

    Mirrors cache/cache_manager.py:41-54."""
    normalized = f"{query.lower().strip()}|{ontologies.upper().strip()}|{service.lower()}"
    return hashlib.sha256(normalized.encode()).hexdigest()


# CURIE prefix expansion table, core/schema_parser.py:221-230; anything not
# listed falls through to the OBO purl pattern (core/schema_parser.py:232).
CURIE_PREFIX_MAP: dict[str, str] = {
    "NCIT": "http://purl.obolibrary.org/obo/NCIT_",
    "HP": "http://purl.obolibrary.org/obo/HP_",
    "MONDO": "http://purl.obolibrary.org/obo/MONDO_",
    "DOID": "http://purl.obolibrary.org/obo/DOID_",
    "ICO": "http://purl.obolibrary.org/obo/ICO_",
    "SIO": "http://semanticscience.org/resource/SIO_",
    "OMIT": "http://purl.obolibrary.org/obo/OMIT_",
    "SCDO": "http://purl.obolibrary.org/obo/SCDO_",
}


def curie_to_iri(curie: str) -> str:
    """CURIE -> IRI with the 8-prefix map + OBO default (schema_parser.py:213-233)."""
    if ":" not in curie:
        return curie
    prefix, local = curie.split(":", 1)
    base = CURIE_PREFIX_MAP.get(prefix, f"http://purl.obolibrary.org/obo/{prefix}_")
    return f"{base}{local}"


# BioPortal -> OLS ontology acronym translation (config/ontologies.py:83-92,
# applied at services/ols.py:86-91: unknown acronyms are DROPPED).
BP_TO_OLS: dict[str, str] = {
    "MONDO": "mondo",
    "HP": "hp",
    "GO": "go",
    "CHEBI": "chebi",
    "NCIT": "ncit",
    "DOID": "doid",
    "SYMP": "symp",
    "PRO": "pr",
}


def convert_ontologies(bioportal_ontologies: str) -> str:
    """Translate a comma list of BP acronyms to OLS names, dropping unknowns.

    Mirrors services/ols.py:86-91."""
    names = [o.strip().upper() for o in bioportal_ontologies.split(",")]
    kept = [BP_TO_OLS[o] for o in names if o in BP_TO_OLS]
    return ",".join(kept)


# Search-strategy table (config/ontologies.py:47-80) + the fallback strategy
# applied at core/lookup.py:26-29.
SEARCH_STRATEGIES: dict[str, dict[str, Any]] = {
    "Disease": {
        "variants": ["disease", "medical condition", "disorder"],
        "ontologies": "MONDO,HP,DOID,NCIT",
    },
    "Symptom": {
        "variants": ["symptom", "clinical sign", "phenotype"],
        "ontologies": "HP,NCIT,SYMP",
    },
    "BiologicalProcess": {
        "variants": ["biological process", "physiological process"],
        "ontologies": "GO,NCIT",
    },
    "MolecularEntity": {
        "variants": ["molecular entity", "chemical entity", "biomarker"],
        "ontologies": "CHEBI,PRO,NCIT",
    },
    "Treatment": {
        "variants": ["treatment", "therapy", "intervention"],
        "ontologies": "NCIT,DRON",
    },
    "long_covid": {
        "variants": ["long covid", "post-covid", "post covid syndrome", "covid-19 sequelae"],
        "ontologies": "MONDO,HP,NCIT,DOID",
    },
    "fatigue": {
        "variants": ["fatigue", "chronic fatigue", "tiredness", "exhaustion", "post-exertional malaise"],
        "ontologies": "HP,NCIT,SYMP",
    },
    "immune_dysfunction": {
        "variants": ["immune dysfunction", "immune system disorder", "immune response abnormality"],
        "ontologies": "GO,HP,NCIT",
    },
}


def search_strategy(key: str, label: str) -> dict[str, Any]:
    """Strategy lookup with the reference's default (core/lookup.py:26-29)."""
    return SEARCH_STRATEGIES.get(
        key, {"variants": [label, label.lower()], "ontologies": "MONDO,HP,NCIT"}
    )


# ---------------------------------------------------------------------------
# golden mapping-set generation (drives the P/R >= 0.95 gate)
# ---------------------------------------------------------------------------


def golden_mappings(selections: dict[str, list[dict]]) -> set[tuple[str, str, str]]:
    """The reference's emitted mapping triples for a selections dict.

    For every (concept_key, alignment) pair the reference emits exactly one
    mapping triple (subject, predicate, object_uri) where the predicate is
    chosen by `alignment_type` (core/generator.py:243-264). Subjects use the
    reference's local namespace (core/generator.py:244).
    """
    out: set[tuple[str, str, str]] = set()
    for concept_key, alignments in selections.items():
        subj = f"http://example.org/ontology#{concept_key}"
        for al in alignments:
            pred = alignment_predicate(al.get("label"), al.get("synonyms"), concept_key)
            out.add((subj, pred, al["uri"]))
    return out
