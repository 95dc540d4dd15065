"""Ontology catalog + domain combinations (config/ontologies.py:8-46).

The reference ships a 24-ontology catalog and 7 research-domain
combinations used by its CLI/GUI pickers; the engine keeps them as plain
data (broadcastable as tiny DataFrames) so snapshot builders and strategy
joins can validate/expand ontology selections. The strategy table and
BP→OLS map live in oracle/semantics.py (they carry exact-match semantics
the classifier tests pin down).
"""

from __future__ import annotations

ONTOLOGY_CATALOG: dict[str, str] = {
    "MONDO": "Monarch Disease Ontology - Human diseases and disorders",
    "HP": "Human Phenotype Ontology - Phenotypic abnormalities",
    "NCIT": "NCI Thesaurus - Cancer terminology and biomedical concepts",
    "GO": "Gene Ontology - Biological processes, molecular functions, cellular components",
    "DOID": "Disease Ontology - Human diseases",
    "CHEBI": "Chemical Entities of Biological Interest - Chemical compounds",
    "PRO": "Protein Ontology - Protein-related entities",
    "SYMP": "Symptom Ontology - Symptoms and clinical findings",
    "EFO": "Experimental Factor Ontology - Experimental variables",
    "ORDO": "Orphanet Rare Disease Ontology - Rare diseases",
    "ICD10": "International Classification of Diseases, 10th Revision",
    "ICD11": "International Classification of Diseases, 11th Revision",
    "SNOMEDCT": "SNOMED Clinical Terms - Healthcare terminology",
    "MESH": "Medical Subject Headings - Biomedical literature indexing",
    "LOINC": "Logical Observation Identifiers Names and Codes",
    "RXNORM": "RxNorm - Normalized drug names",
    "CPT": "Current Procedural Terminology - Medical procedures",
    "HGNC": "HUGO Gene Nomenclature Committee - Gene names",
    "SO": "Sequence Ontology - Biological sequences",
    "CL": "Cell Ontology - Cell types",
    "UBERON": "Uberon - Anatomical structures",
    "FMA": "Foundational Model of Anatomy - Human anatomy",
    "GARD": "Genetic and Rare Diseases Information Center",
    "OMIM": "Online Mendelian Inheritance in Man - Genetic disorders",
}

DOMAIN_COMBINATIONS: dict[str, str] = {
    "Disease Research": "MONDO,HP,DOID,NCIT,ORDO",
    "Symptom/Phenotype": "HP,SYMP,NCIT",
    "Chemical/Drug": "CHEBI,RXNORM,NCIT",
    "Gene/Protein": "GO,PRO,HGNC,SO",
    "Anatomy": "UBERON,FMA,CL",
    "Clinical": "SNOMEDCT,ICD10,ICD11,LOINC,CPT",
    "General Medical": "NCIT,HP,MONDO,MESH",
}
