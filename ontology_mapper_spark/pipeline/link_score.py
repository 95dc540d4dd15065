"""Stage 2 — entity-link scoring: mention → ontology-class candidates.

Candidate generation is an equi-join of detected mentions against the
per-pattern decision table — the dictionary side is small by design and
explicitly ``broadcast()``, so at 10^12-turn scale this stage is a
map-side join with NO shuffle of the mention table.

Every decision the reference makes per candidate is a pure function of
(pattern, term), never of the individual mention, so the whole table is
computed once on the driver (the dictionary plane, `Dictionary`) from ONE
collect of the terms table, and handed to Spark as a small local
DataFrame. No window, pandas UDF or shuffle runs for it:

1. the *class* decision — the reference's ``determine_alignment_type``
   (utils/helpers.py:76-105) — is oracle.semantics.alignment_type, whose
   parity with the native functions/align.py chain is tested;
2. the *numeric* score is 0.7·Jaro-Winkler on normalized strings + 0.3·
   TF-IDF cosine over dictionary tokens (`pair_score`);
3. priority dedup (same URI from both service sources: bioportal wins, OLS
   survivor flagged ols_only) mirrors core/lookup.py:68-87 with a total
   order — not first-seen, whose winner would depend on input order.

The same collect gives mention detection its pattern list and the IDF.
"""

from __future__ import annotations

import functools
import math
import re
from collections import Counter, defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..oracle.semantics import ALIGNMENT_PREDICATE, DEFAULT_PREDICATE, alignment_type

TERM_COLS = ("term_id", "class_iri", "ontology", "label", "synonyms", "source")

DECISION_SCHEMA = (
    "pattern string, term_id string, class_iri string, ontology string, "
    "label string, synonyms array<string>, source string, match_via string, "
    "concept_key string, alignment string, predicate string, score double, "
    "ols_only boolean, rank int"
)

# Java's \s, which Spark's split(x, '\\s+') splits on: ASCII whitespace only
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def jaro_winkler(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity in [0,1] (public textbook algorithm), using
    the standard production conventions — mismatched positions integer-
    halved into transpositions, and the Winkler prefix boost applied only
    above the classic 0.7 threshold — so the result is bit-identical to
    independent implementations (DuckDB's jaro_winkler_similarity,
    RapidFuzz); parity is property-tested in tests/test_kg_fixture_oracle.py."""
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if not len1 or not len2:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, ch in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    mismatched = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                mismatched += 1
            k += 1
    transpositions = mismatched // 2
    jaro = (
        matches / len1 + matches / len2 + (matches - transpositions) / matches
    ) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix == 4:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)


def _tfidf_cosine(tokens_a: list[str], tokens_b: list[str], idf: dict[str, float]) -> float:
    """Cosine of IDF-weighted token multisets (df from the dictionary side).

    The sums are exactly rounded (math.fsum), so the result does not depend
    on the iteration order of the token set, which follows PYTHONHASHSEED."""
    if not tokens_a or not tokens_b:
        return 0.0
    wa: dict[str, float] = {}
    wb: dict[str, float] = {}
    for t in tokens_a:
        wa[t] = wa.get(t, 0.0) + idf.get(t, 1.0)
    for t in tokens_b:
        wb[t] = wb.get(t, 0.0) + idf.get(t, 1.0)
    dot = math.fsum(wa[t] * wb[t] for t in wa.keys() & wb.keys())
    na = math.sqrt(math.fsum(v * v for v in wa.values()))
    nb = math.sqrt(math.fsum(v * v for v in wb.values()))
    return dot / (na * nb) if na and nb else 0.0


def _norm(s: str | None) -> str | None:
    """Spark's lower(trim(s)): trim strips only ' ' (the comparator's
    lower().strip(), services/comparator.py:27-28)."""
    return None if s is None else s.strip(" ").lower()


def _asc(s: str | None) -> tuple:
    """Sort key of a Spark ascending order: nulls first, then code points
    (Python's str order is Spark's UTF-8 byte order)."""
    return (s is not None, s or "")


def pair_score(surface: str | None, label: str | None, idf: dict[str, float]) -> float:
    """0.7·JaroWinkler + 0.3·TFIDF-cosine of (surface, label), both
    lower().strip()-ed and split on whitespace."""
    s_n = (surface or "").lower().strip()
    l_n = (label or "").lower().strip()
    return 0.7 * jaro_winkler(s_n, l_n) + 0.3 * _tfidf_cosine(
        s_n.split(), l_n.split(), idf
    )


class Dictionary:
    """The dictionary plane of a terms table: the pattern list detection
    takes, the IDF, and the per-pattern decision table, all computed on
    the driver from one collect of the terms (its only Spark job, run on
    first use)."""

    def __init__(self, terms_df: DataFrame) -> None:
        self.terms_df = terms_df

    @functools.cached_property
    def terms(self) -> list[tuple]:
        """One (term_id, class_iri, ontology, label, synonyms, source) per
        term row; a column the table lacks reads as null (the pattern
        list needs only label and synonyms, the IDF only label)."""
        have = set(self.terms_df.columns)
        cols = [c if c in have else F.lit(None).alias(c) for c in TERM_COLS]
        return [tuple(r) for r in self.terms_df.select(*cols).collect()]

    @functools.cached_property
    def patterns(self) -> list[str]:
        """Sorted distinct normalized labels and synonyms; the reference's
        quality filter (utils/helpers.py:58-60) drops forms under 3 chars."""
        forms = {
            _norm(s)
            for t in self.terms
            for s in [t[3], *(t[4] or [])]
            if s is not None
        }
        return sorted(p for p in forms if len(p) >= 3)

    @functools.cached_property
    def idf(self) -> dict[str, float]:
        """IDF over label tokens: df counts token occurrences over all
        labels, n the term rows."""
        df = Counter(
            tok
            for t in self.terms
            if t[3] is not None
            for tok in _JAVA_WS.split(_norm(t[3]))
            if tok
        )
        n = max(len(self.terms), 1)
        return {tok: math.log((1 + n) / (1 + c)) + 1.0 for tok, c in df.items()}

    def decisions(self, idf: dict[str, float] | None = None, top_k: int = 3) -> list[tuple]:
        """The decision table's rows, in DECISION_SCHEMA order: every
        (pattern, term) candidate — each label, and each synonym of ≥3
        chars — deduped per (pattern, class_iri) to one URI (bioportal
        first, then term_id, match_via), classified, scored, and ranked
        per pattern by score desc, then class_iri; rank ≤ top_k kept."""
        idf = idf or {}
        cands: dict[tuple, tuple] = {}
        for t in self.terms:
            forms = [(_norm(t[3]), "label")] + [
                (p, "synonym")
                for p in map(_norm, t[4] or [])
                if p is not None and len(p) >= 3
            ]
            for pattern, via in forms:
                cands.setdefault((pattern, t[0], t[5], via), t)

        best: dict[tuple, tuple] = {}
        for (pattern, term_id, source, via), t in cands.items():
            order = (source != "bioportal", _asc(term_id), via)
            key = (pattern, t[1])
            if key not in best or order < best[key][0]:
                best[key] = (order, pattern, via, t)

        by_pattern: dict[str | None, list[tuple]] = defaultdict(list)
        for _, pattern, via, t in best.values():
            label, synonyms, source = t[3], t[4], t[5]
            ck = None if pattern is None else pattern.replace(" ", "_")
            # a null key is 'related', as Spark's null comparisons make it
            alignment = "related" if ck is None else alignment_type(label, synonyms, ck)
            by_pattern[pattern].append((
                pattern, *t, via, ck, alignment,
                ALIGNMENT_PREDICATE.get(alignment, DEFAULT_PREDICATE),
                pair_score(pattern, label, idf),
                None if source is None else source == "ols",
            ))
        rows = []
        for cands_of in by_pattern.values():
            cands_of.sort(key=lambda r: (-r[11], _asc(r[2])))
            rows += [(*r, rank) for rank, r in enumerate(cands_of[:top_k], 1)]
        return rows

    def table(self, idf: dict[str, float] | None = None, top_k: int = 3) -> DataFrame:
        """`decisions` as a small local DataFrame."""
        return self.terms_df.sparkSession.createDataFrame(
            self.decisions(idf, top_k), DECISION_SCHEMA
        )

    def link(
        self, mentions: DataFrame, idf: dict[str, float] | None = None, top_k: int = 3
    ) -> DataFrame:
        """`mentions` joined to the decision table: one broadcast hash join,
        map-only over the mentions."""
        return mentions.join(F.broadcast(self.table(idf, top_k)), "pattern", "inner")


def dictionary_idf(terms_df: DataFrame) -> dict[str, float]:
    """IDF over label tokens of the term dictionary (Dictionary.idf)."""
    return Dictionary(terms_df).idf


def rank_dictionary(
    spark: SparkSession,
    terms_df: DataFrame,
    idf: dict[str, float] | None = None,
    top_k: int = 3,
) -> DataFrame:
    """Precomputed per-pattern decision table: classification, score,
    URI-priority dedup, and top-k rank for every dictionary pattern
    (Dictionary.decisions, built on the driver; no window or UDF runs).

    THE scale insight of this stage: every per-candidate decision the
    reference makes — determine_alignment_type (utils/helpers.py:76-105),
    URI-priority dedup (core/lookup.py:68-87), score-ranked top-k
    (core/lookup.py:63-66) — is a pure function of (pattern, term), never
    of the individual mention (a matched span lowercased IS its pattern).
    So all of it runs once over the dictionary-sized pattern table, and
    the 10^12-turn mention table only ever sees a broadcast hash join:
    zero shuffles, zero Python in the per-turn path. `spark` is the
    session of `terms_df`.
    """
    return Dictionary(terms_df).table(idf, top_k)


def link_mentions(
    spark: SparkSession,
    mentions: DataFrame,
    terms_df: DataFrame,
    idf: dict[str, float] | None = None,
    top_k: int = 3,
) -> DataFrame:
    """mentions × dictionary → scored, classified, deduped links.

    One broadcast hash join against the precomputed `rank_dictionary`
    decision table — map-only over the mention table (see rank_dictionary
    docstring for why this is exact, not an approximation).

    Output: (pattern, conv_id, turn_idx, begin, end, surface, term_id,
    class_iri, ontology, label, synonyms, source, match_via, concept_key,
    alignment, predicate, score, ols_only, rank).
    """
    return Dictionary(terms_df).link(mentions, idf, top_k)
