#!/usr/bin/env python
"""Batch concept lookup — the engine's analogue of the reference's
examples/batch_processing.py (one term per line → mappings), but against
the offline ontology snapshot instead of per-term REST calls.

    python examples/batch_concepts.py concepts.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ontology_mapper_spark.datagen import build_snapshot  # noqa: E402
from ontology_mapper_spark.pipeline.link_score import rank_dictionary  # noqa: E402
from ontology_mapper_spark.session import get_spark  # noqa: E402
from ontology_mapper_spark.sources import read_concept_list  # noqa: E402


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark(app_name="batch-concepts", master="local[4]")
    if path is None:
        concepts = spark.createDataFrame(
            [("long_covid", "long covid"), ("fatigue", "fatigue")],
            ["concept_key", "label"],
        )
    else:
        concepts = read_concept_list(spark, path)

    terms, _ = build_snapshot(spark, n_terms=200, seed=42)
    ranked = rank_dictionary(spark, terms, idf=None, top_k=5)
    out = concepts.join(
        F.broadcast(ranked),
        F.lower(F.trim(concepts["label"])) == ranked["pattern"],
        "left",
    ).select(concepts["concept_key"], "class_iri", "predicate", "score", "rank")
    out.orderBy("concept_key", "rank").show(50, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
