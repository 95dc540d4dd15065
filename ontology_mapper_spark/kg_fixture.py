"""Static KG fixture: a small ontology-term dictionary + xref graph whose
labels/synonyms are drawn from the driver `documents` vocabulary, plus a
pure-Python mirror of the link decision table and canonical components.

Purpose (VERDICT round 1, item 1): make the kg_links / kg_triples /
kg_canonical contract queries fully DuckDB-oracled. The Spark side runs the
REAL pipeline (build_dictionary → detect_mentions → link_mentions →
extract_triples / canonical_mapping); the oracle side is

* mention detection mirrored in SQL (the q34 unigram/bigram idiom, extended
  with character spans via prefix sums — exact because documents.text is
  single-spaced lowercase ASCII by construction), and
* the per-pattern decision table (classification, scoring, URI-priority
  dedup, top-k rank — all pure functions of the fixture, never of the
  corpus) recomputed HERE in plain Python at import time and embedded as a
  VALUES literal, and
* connected components recomputed with an independent BFS.

Scoring reuses link_score.jaro_winkler/_tfidf_cosine (the same public
algorithms the engine's scorer applies); independence of the JW implementation
itself is covered by the DuckDB jaro_winkler_similarity property test in
tests/test_kg_fixture_oracle.py.
"""

from __future__ import annotations

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

LOCAL_NS = "http://example.org/ontology#"
BP_ONT_NS = "http://bioportal.bioontology.org/ontologies/"
RUN_TS = "2026-08-16T00:00:00"

# Labels / synonyms use the driver documents vocabulary (31 words, all
# lowercase alnum, 1-2 word patterns) so detection actually fires.
# Deliberate shapes: shared pattern from two terms ("window"), same
# class_iri from both services ("group" — URI-priority dedup), synonym
# equal to its own label ("query" — label wins the dedup window), junk
# synonyms (<3 chars, blanks) dropped by the quality filter.
TERMS: list[dict] = [
    dict(term_id="t01", class_iri="http://ex.org/cls/0001", ontology="MONDO",
         label="hash join", synonyms=["hash", "fast join"], source="bioportal"),
    dict(term_id="t02", class_iri="http://ex.org/cls/0002", ontology="HP",
         label="table scan", synonyms=["scan", "ts"], source="bioportal"),
    dict(term_id="t03", class_iri="http://ex.org/cls/0003", ontology="NCIT",
         label="window", synonyms=["window frame"], source="bioportal"),
    dict(term_id="t04", class_iri="http://ex.org/cls/0004", ontology="GO",
         label="stream", synonyms=["batch stream", "window"], source="ols"),
    dict(term_id="t05", class_iri="http://ex.org/cls/0005", ontology="DOID",
         label="sort merge", synonyms=["merge", "sort"], source="ols"),
    dict(term_id="t06", class_iri="http://ex.org/cls/0006", ontology="CHEBI",
         label="vector", synonyms=[], source="bioportal"),
    dict(term_id="t07", class_iri="http://ex.org/cls/0007", ontology="SYMP",
         label="group", synonyms=["row group"], source="bioportal"),
    dict(term_id="t08", class_iri="http://ex.org/cls/0007", ontology="SYMP",
         label="group", synonyms=[" ", "gr"], source="ols"),
    dict(term_id="t09", class_iri="http://ex.org/cls/0009", ontology="GO",
         label="query", synonyms=["fast query", "query"], source="ols"),
    dict(term_id="t10", class_iri="http://ex.org/cls/0010", ontology="HP",
         label="slow scan", synonyms=["scan"], source="bioportal"),
    dict(term_id="t11", class_iri="http://ex.org/cls/0011", ontology="NCIT",
         label="spark", synonyms=["the spark"], source="bioportal"),
    dict(term_id="t12", class_iri="http://ex.org/cls/0012", ontology="DOID",
         label="big data", synonyms=["data"], source="ols"),
]

# Xref identity edges: a chain, a hub (skew shape), a pair, an edge to an
# external (non-dictionary) node that becomes the component min, and two
# isolated dictionary terms (0004, 0006) that must self-canonicalize.
XREFS: list[tuple[str, str]] = [
    ("http://ex.org/cls/0001", "http://ex.org/cls/0002"),
    ("http://ex.org/cls/0002", "http://ex.org/cls/0003"),
    # external node sorts BEFORE '0001' → becomes the chain's component min
    ("http://ex.org/cls/0001", "http://ex.org/cls/0000x"),
    ("http://ex.org/cls/0007", "http://ex.org/cls/0009"),
    ("http://ex.org/cls/0007", "http://ex.org/cls/0010"),
    ("http://ex.org/cls/0007", "http://ex.org/cls/0011"),
    ("http://ex.org/cls/0005", "http://ex.org/cls/0012"),
]


def terms_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("term_id", T.StringType(), False),
        T.StructField("class_iri", T.StringType(), False),
        T.StructField("ontology", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("synonyms", T.ArrayType(T.StringType()), False),
        T.StructField("source", T.StringType(), False),
    ])
    rows = [
        (t["term_id"], t["class_iri"], t["ontology"], t["label"],
         t["synonyms"], t["source"])
        for t in TERMS
    ]
    return spark.createDataFrame(rows, schema)


def xrefs_df(spark):
    return spark.createDataFrame(XREFS, ["src_iri", "dst_iri"])


# ---------------------------------------------------------------------------
# pure-Python mirrors
# ---------------------------------------------------------------------------


def top_synonyms_py(synonyms: list[str], n: int = 3) -> list[str]:
    """Mirror of functions.synonyms.top_synonyms_col (D3 + head-3)."""
    kept: list[str] = []
    seen: set[str] = set()
    for s in synonyms or []:
        if s is None or not s.strip():
            continue
        form = s.strip().lower()
        if len(form) < 3 or form in seen:
            continue
        kept.append(s.strip())
        seen.add(form)
    kept.sort(key=lambda x: (len(x), x.lower()))
    return kept[:n]


def _round_half_up_micro(x: float) -> int:
    """Mirror of Spark round(x*1e6): BigDecimal.valueOf(double) uses the
    shortest decimal repr (== Python repr), then HALF_UP at scale 0."""
    return int(
        Decimal(repr(x * 1e6)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )


def decision_rows(
    terms: list[dict] = TERMS, idf: dict[str, float] | None = None
) -> list[dict]:
    """The rank_dictionary decision table recomputed in plain Python:
    pattern explode → classification → score → URI-priority dedup →
    per-pattern top-3 rank. Pure function of `terms` (rows with TERMS'
    keys) and `idf` (none: every token weighs 1)."""
    from .oracle.semantics import (
        ALIGNMENT_PREDICATE,
        DEFAULT_PREDICATE,
        alignment_type,
    )
    from .pipeline.link_score import _tfidf_cosine, jaro_winkler

    pats: dict[tuple, dict] = {}
    for t in terms:
        pats.setdefault(
            (t["label"].strip().lower(), t["term_id"], t["source"], "label"), t
        )
        for syn in t["synonyms"]:
            p = syn.strip().lower()
            if len(p) >= 3:
                pats.setdefault((p, t["term_id"], t["source"], "synonym"), t)

    rows = []
    for (pattern, term_id, source, via), t in pats.items():
        ck = pattern.replace(" ", "_")
        label_n = t["label"].lower().strip()
        score = 0.7 * jaro_winkler(pattern, label_n) + 0.3 * _tfidf_cosine(
            pattern.split(), label_n.split(), idf or {}
        )
        rows.append(dict(
            pattern=pattern, term_id=term_id, source=source, match_via=via,
            concept_key=ck,
            alignment=alignment_type(t["label"], t["synonyms"], ck),
            predicate=ALIGNMENT_PREDICATE.get(
                alignment_type(t["label"], t["synonyms"], ck), DEFAULT_PREDICATE
            ),
            score=score, class_iri=t["class_iri"], ontology=t["ontology"],
            label=t["label"], synonyms=t["synonyms"],
        ))

    groups: dict[tuple, list[dict]] = defaultdict(list)
    for r in rows:
        groups[(r["pattern"], r["class_iri"])].append(r)
    kept = []
    for g in groups.values():
        g.sort(key=lambda r: (
            0 if r["source"] == "bioportal" else 1, r["term_id"], r["match_via"]
        ))
        first = g[0]
        first["ols_only"] = first["source"] == "ols"
        kept.append(first)

    bypat: dict[str, list[dict]] = defaultdict(list)
    for r in kept:
        bypat[r["pattern"]].append(r)
    out = []
    for g in bypat.values():
        g.sort(key=lambda r: (-r["score"], r["class_iri"]))
        for i, r in enumerate(g[:3]):
            r = dict(r)
            r["rank"] = i + 1
            r["score_micro"] = _round_half_up_micro(r["score"])
            syns = top_synonyms_py(r["synonyms"], 3)
            r["syn1"], r["syn2"], r["syn3"] = (syns + [None, None, None])[:3]
            out.append(r)
    return out


def canonical_rows() -> list[tuple[str, str]]:
    """(class_iri, canonical_iri) via an independent BFS over XREFS."""
    adj: dict[str, set[str]] = defaultdict(set)
    for u, v in XREFS:
        adj[u].add(v)
        adj[v].add(u)
    comp: dict[str, str] = {}
    for start in sorted(adj):
        if start in comp:
            continue
        stack, seen = [start], {start}
        while stack:
            n = stack.pop()
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    stack.append(m)
        cmin = min(seen)
        for n in seen:
            comp[n] = cmin
    out = []
    for iri in sorted({t["class_iri"] for t in TERMS}):
        out.append((iri, comp.get(iri, iri)))
    return out


# ---------------------------------------------------------------------------
# SQL literal generators (oracle side)
# ---------------------------------------------------------------------------


def _sv(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def decision_values_sql() -> str:
    """dec(pattern, class_iri, ontology, label, source, match_via,
    concept_key, alignment, predicate, ols_only, rank, score_micro,
    syn1, syn2, syn3) AS (VALUES ...)"""
    cols = ("pattern", "class_iri", "ontology", "label", "source",
            "match_via", "concept_key", "alignment", "predicate", "ols_only",
            "rank", "score_micro", "syn1", "syn2", "syn3")
    vals = ",\n      ".join(
        "(" + ", ".join(_sv(r[c]) for c in cols) + ")" for r in decision_rows()
    )
    return f"dec({', '.join(cols)}) AS (VALUES\n      {vals})"


def canonical_values_sql() -> str:
    vals = ",\n      ".join(
        f"({_sv(a)}, {_sv(b)})" for a, b in canonical_rows()
    )
    return f"canon(class_iri, canonical_iri) AS (VALUES\n      {vals})"


# Shared detection CTEs: unigram/bigram spans with character offsets via
# prefix sums (exact on single-spaced lowercase ASCII text).
DETECT_CTES = """
    words AS (
      SELECT doc_id, w, idx,
             CAST(coalesce(sum(length(w) + 1) OVER (
               PARTITION BY doc_id ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
               AS begin
      FROM (SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS idx
            FROM documents)),
    cand AS (
      SELECT doc_id, w AS span, begin,
             begin + CAST(length(w) AS INT) AS "end"
      FROM words
      UNION ALL
      SELECT w1.doc_id, w1.w || ' ' || w2.w AS span, w1.begin,
             w1.begin + CAST(length(w1.w) + 1 + length(w2.w) AS INT) AS "end"
      FROM words w1 JOIN words w2
        ON w1.doc_id = w2.doc_id AND w2.idx = w1.idx + 1)
"""
