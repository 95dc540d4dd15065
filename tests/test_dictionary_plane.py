"""The dictionary plane (link_score.Dictionary): one terms collect gives the
pattern list, the IDF and the decision table, with the semantics of the
Spark expressions they replaced."""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import pytest

from ontology_mapper_spark.datagen.snapshot import build_snapshot, ontology_terms_rows
from ontology_mapper_spark.pipeline.link_score import (
    Dictionary,
    dictionary_idf,
    rank_dictionary,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sha256 of the sorted repr() of the rows of
# rank_dictionary(spark, build_snapshot(spark, 200, seed)[0], idf=None),
# recorded with the Spark window + pandas-UDF plan the driver-side build
# replaced
GOLDEN = {
    1: (426, "51dcd3b9b4fd0a4d50d2b1fb8bfda21dc7f29a7d2b9e7d6d9b906f7a9b50ede0"),
    42: (459, "b381dba83b98b6dc4fe13a56de5c5e07744e6a267dfe0b8e08df7b82d348b4d4"),
}


@pytest.mark.parametrize("seed", sorted(GOLDEN))
def test_decision_table_equals_golden(spark, seed):
    terms, _ = build_snapshot(spark, 200, seed)
    rows = rank_dictionary(spark, terms, idf=None).collect()
    digest = hashlib.sha256(
        "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
    ).hexdigest()
    assert (len(rows), digest) == GOLDEN[seed]


def test_decision_table_with_idf_equals_python_mirror(spark):
    from ontology_mapper_spark.kg_fixture import decision_rows

    terms, _ = build_snapshot(spark, 200, 1)
    idf = dictionary_idf(terms)
    cols = ("term_id", "source", "match_via", "concept_key", "alignment",
            "predicate", "score", "ols_only", "rank")
    got = {
        (r["pattern"], r["class_iri"]): tuple(r[c] for c in cols)
        for r in rank_dictionary(spark, terms, idf=idf).collect()
    }
    want = {
        (r["pattern"], r["class_iri"]): tuple(r[c] for c in cols)
        for r in decision_rows(terms=ontology_terms_rows(200, 1), idf=idf)
    }
    assert got == want
    # the IDF moves scores: this is not the idf=None table again
    plain = {
        (r["pattern"], r["class_iri"]): r["score"]
        for r in decision_rows(terms=ontology_terms_rows(200, 1))
    }
    assert any(plain.get(k) != v[6] for k, v in got.items())


def test_tfidf_cosine_does_not_depend_on_hash_seed(spark):
    terms, _ = build_snapshot(spark, 200, 1)
    idf = json.dumps(dictionary_idf(terms))
    code = (
        "import json, sys\n"
        "from ontology_mapper_spark.pipeline.link_score import _tfidf_cosine\n"
        "t = 'hepatic covid syndrome'.split()\n"
        "print(repr(_tfidf_cosine(t, t, json.loads(sys.stdin.read()))))\n"
    )
    values = set()
    for seed in range(6):
        env = {**os.environ, "PYTHONHASHSEED": str(seed), "PYTHONPATH": ROOT}
        out = subprocess.run(
            [sys.executable, "-c", code], input=idf, env=env,
            capture_output=True, text=True, check=True,
        )
        values.add(out.stdout.strip())
    assert len(values) == 1, values


def test_patterns_and_idf_follow_spark_string_semantics(spark):
    """trim strips only ' ', and IDF tokens split on Java's ASCII \\s."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("  Tab\tSep  Label ", ["\tab", "x", None, "NBSP\u00a0word ", "  ok  "]),
            (None, None),
            ("\u00a0lead nbsp", []),
            ("Pain pain\u2003em", ["PAIN", "sore spot"]),
        ],
        "label string, synonyms array<string>",
    )
    # the Spark expressions the driver-side build replaced
    pats = (
        df.select(F.lower(F.trim("label")).alias("p"))
        .unionByName(
            df.select(F.explode_outer("synonyms").alias("s")).select(
                F.lower(F.trim("s")).alias("p")
            )
        )
        .where(F.col("p").isNotNull() & (F.length("p") >= 3))
        .distinct()
    )
    toks = (
        df.select(F.explode(F.split(F.lower(F.trim("label")), r"\s+")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .count()
    )
    n = df.count()
    d = Dictionary(df)
    assert d.patterns == sorted(r["p"] for r in pats.collect())
    assert d.idf == {
        r["tok"]: math.log((1 + n) / (1 + r["count"])) + 1.0 for r in toks.collect()
    }
    assert {"\tab", "nbsp\u00a0word", "\u00a0lead nbsp"} <= set(d.patterns)
    assert {"pain\u2003em", "\u00a0lead"} <= set(d.idf)


def test_runner_pass_collects_terms_once(spark, tmp_path):
    """A runner pass over a built snapshot and transcripts runs exactly one
    dictionary job: the terms collect that detect and link share."""
    from ontology_mapper_spark.pipeline.runner import PipelineRunner

    out = str(tmp_path / "kg")
    base = PipelineRunner(spark, out, n_convs=20, n_terms=30)
    base.snapshot()
    base.transcripts()
    sc = spark.sparkContext
    sc.setJobGroup("test-dictionary-pass", "runner pass")
    try:
        PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=True).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    names = [
        store.job(j).name()
        for j in sorted(sc.statusTracker().getJobIdsForGroup("test-dictionary-pass"))
    ]
    # the dictionary's jobs are the ones whose call site is in its modules;
    # detect and link run inside the table writes (catalog.py)
    dictionary_jobs = [
        n for n in names if "link_score.py" in n or "mention_detect.py" in n
    ]
    assert len(dictionary_jobs) == 1 and dictionary_jobs[0].startswith("collect at "), names
