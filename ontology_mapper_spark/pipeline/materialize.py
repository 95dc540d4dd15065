"""Stage 4 — graph materialization: links → triples.

Triple vocabulary reproduces /root/reference/core/generator.py:243-295 per
selected (concept, alignment):

  (local, <C1-predicate>, external)                 mapping triple
  (local, skos:inScheme,  bioportal-ontology IRI)
  (local, dcterms:source, bioportal-ontology IRI)
  (local, skos:prefLabel, label@en)                 if non-blank
  (local, dcterms:description, cleaned@en)          if cleaning non-empty
  (local, skos:altLabel, syn@en) ×≤3                D3-deduped, (len,lower)-sorted

where local = http://example.org/ontology#<concept_key>. Predicates are
stored as CURIEs (skos:/dcterms:/rdfs:) — compact at 10^12-triple scale;
the NT sink expands them.

Provenance differs deliberately from the reference: its per-alignment
counter and datetime.now() (core/generator.py:287-291) are
nondeterministic under parallelism, so the prov node id is a deterministic
hash of (concept_key, class_iri) and the timestamp is the run's `run_ts`
parameter (SURVEY.md §7.3 determinism note).

Everything is one `explode(array(struct...))` over the links table — a
map-only stage; `dropDuplicates` at the end mirrors the RDF graph's set
semantics (rdflib.Graph cannot hold duplicate triples), and is the only
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import clean_description_col
from ..functions.synonyms import top_synonyms_col

LOCAL_NS = "http://example.org/ontology#"
BP_ONT_NS = "http://bioportal.bioontology.org/ontologies/"

TRIPLE_COLS = ("subj", "pred", "obj", "obj_type", "lang")


def extract_triples(
    links: DataFrame, run_ts: str | None = None, by: tuple[str, ...] = ()
) -> DataFrame:
    """links (from link_score.link_mentions, optionally with a `description`
    column from the dictionary) → triples(subj, pred, obj, obj_type, lang).

    `by` names links columns that are carried onto every triple and scope
    its set semantics: triples are distinct within each `by` group (the
    incremental path passes ("bucket",) for bucket-local sets)."""
    has_desc = "description" in links.columns
    desc_col = F.col("description") if has_desc else F.lit(None).cast("string")

    local = F.concat(F.lit(LOCAL_NS), F.col("concept_key"))
    ont_iri = F.concat(F.lit(BP_ONT_NS), F.col("ontology"))
    cleaned = clean_description_col(desc_col)

    def t(pred, obj, obj_type, lang=None):
        return F.struct(
            pred.alias("pred"),
            obj.alias("obj"),
            F.lit(obj_type).alias("obj_type"),
            (F.lit(lang) if lang else F.lit(None)).cast("string").alias("lang"),
        )

    base = F.array(
        t(F.col("predicate"), F.col("class_iri"), "uri"),
        t(F.lit("skos:inScheme"), ont_iri, "uri"),
        t(F.lit("dcterms:source"), ont_iri, "uri"),
    )
    with_label = F.when(
        F.trim(F.coalesce(F.col("label"), F.lit(""))) != "",
        F.concat(base, F.array(t(F.lit("skos:prefLabel"), F.col("label"), "literal", "en"))),
    ).otherwise(base)
    with_desc = F.when(
        cleaned != "",
        F.concat(
            with_label,
            F.array(t(F.lit("dcterms:description"), cleaned, "literal", "en")),
        ),
    ).otherwise(with_label)
    alt = F.transform(
        top_synonyms_col(F.col("synonyms"), 3),
        lambda s: t(F.lit("skos:altLabel"), s, "literal", "en"),
    )
    all_triples = F.concat(with_desc, alt)

    out = (
        links.select(*by, local.alias("subj"), F.explode(all_triples).alias("t"))
        .select(
            *by,
            "subj",
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
            F.col("t.obj_type").alias("obj_type"),
            F.col("t.lang").alias("lang"),
        )
        .dropDuplicates([*by, "subj", "pred", "obj"])
    )
    if run_ts is not None:
        prov = (
            links.select(*by, local.alias("lsubj"), "class_iri").distinct()
            .select(
                *by,
                F.concat(
                    F.lit(LOCAL_NS),
                    F.lit("alignment_"),
                    F.sha2(F.concat_ws("|", "lsubj", "class_iri"), 256).substr(1, 16),
                ).alias("subj"),
                F.lit("dcterms:created").alias("pred"),
                F.lit(run_ts).alias("obj"),
                F.lit("literal").alias("obj_type"),
                F.lit(None).cast("string").alias("lang"),
            )
        )
        out = out.unionByName(prov)
    return out

