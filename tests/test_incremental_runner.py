"""End-to-end incremental pipeline: two trickle batches must produce
exactly what a from-scratch run over the final corpus produces, at
delta-proportional stage cost."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.kg_fixture import terms_df, xrefs_df
from ontology_mapper_spark.pipeline.incremental_cc import compact_edges, compact_triples
from ontology_mapper_spark.pipeline.incremental_runner import run_incremental_batch

BUCKETS = 8
SCHEMA = "conv_id string, turn_idx int, text string"

BATCH1 = [
    ("cA", 0, "the hash join beats a table scan"),
    ("cA", 1, "window over stream processing"),
    ("cB", 0, "vector data and a sort merge"),
]
BATCH2_NEW = [
    ("cC", 0, "another hash join and a query here"),
    ("cD", 0, "group by window"),
]


def test_two_batches_equal_from_scratch(spark, tmp_path):
    terms = terms_df(spark)
    xrefs = xrefs_df(spark)
    out = str(tmp_path / "inc")

    tr1 = spark.createDataFrame(BATCH1, SCHEMA)
    s1 = run_incremental_batch(
        spark, tr1, terms, xrefs, out, buckets=BUCKETS, run_ts="2026-01-01"
    )
    assert s1["detect"]["changed_buckets"]
    assert s1["canonicalize"].get("bootstrap") is True

    # batch 2: two new conversations + one new xref edge merging components
    tr2 = spark.createDataFrame(BATCH1 + BATCH2_NEW, SCHEMA)
    delta_edge = spark.createDataFrame(
        [("http://ex.org/cls/0004", "http://ex.org/cls/0005")],
        ["src_iri", "dst_iri"],
    )
    s2 = run_incremental_batch(
        spark, tr2, terms, delta_edge, out, buckets=BUCKETS, run_ts="2026-01-01"
    )
    # delta-proportional: only the new conversations' buckets recomputed
    new_buckets = {
        r.b
        for r in spark.createDataFrame(BATCH2_NEW, SCHEMA)
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS)).alias("b"))
        .distinct()
        .collect()
    }
    assert set(s2["detect"]["changed_buckets"]) == new_buckets
    assert s2["canonicalize"]["n_merges"] >= 1

    # final state == from-scratch over the full corpus + full edge set
    from ontology_mapper_spark.pipeline import (
        build_dictionary,
        detect_mentions,
        link_mentions,
    )
    from ontology_mapper_spark.pipeline.canonicalize import connected_components
    from ontology_mapper_spark.pipeline.materialize import extract_triples

    full_m = detect_mentions(spark, tr2, build_dictionary(terms))
    full_l = link_mentions(spark, full_m, terms, idf=None)
    got_links = {
        (r.conv_id, r.turn_idx, r.begin, r.end, r.pattern, r.class_iri, r.rank)
        for r in spark.read.parquet(f"{out}/links").collect()
    }
    want_links = {
        (r.conv_id, r.turn_idx, r.begin, r.end, r.pattern, r.class_iri, r.rank)
        for r in full_l.collect()
    }
    assert got_links == want_links

    got_triples = {
        tuple(r) for r in compact_triples(spark, f"{out}/triples").collect()
    }
    want_triples = {
        tuple(r)
        for r in extract_triples(full_l, run_ts="2026-01-01").collect()
    }
    assert got_triples == want_triples

    all_edges = xrefs.unionByName(delta_edge)
    got_canon = {
        (r.node, r.component)
        for r in spark.read.parquet(f"{out}/canonical_labels").collect()
    }
    want_canon = {
        (r.node, r.component)
        for r in connected_components(all_edges).collect()
    }
    assert got_canon == want_canon

    # incremental co-mention edges: bucket partials compact to exactly the
    # full recompute (symmetric window, window_turns=2)
    from ontology_mapper_spark.pipeline.comention import comention_edges
    from ontology_mapper_spark.pipeline.incremental_cc import compact_edges

    got_edges = {
        (r.entity_a, r.entity_b, r.n_comentions)
        for r in compact_edges(spark, f"{out}/edges").collect()
    }
    want_edges = {
        (r.entity_a, r.entity_b, r.n_comentions)
        for r in comention_edges(full_l, window_turns=2).collect()
    }
    assert got_edges == want_edges and got_edges

    # third batch with nothing new: every stage is a no-op
    s3 = run_incremental_batch(
        spark, tr2, terms, None, out, buckets=BUCKETS, run_ts="2026-01-01"
    )
    assert s3["detect"]["changed_buckets"] == []
    assert s3["link"]["changed_buckets"] == []
    assert s3["canonicalize"] == {"skipped": True}
    assert s3["materialize"]["changed_buckets"] == []
    assert s3["edges"]["changed_buckets"] == []


def _batch(spark, rows, out, xrefs=None):
    return run_incremental_batch(
        spark, spark.createDataFrame(rows, SCHEMA), terms_df(spark), xrefs, out,
        buckets=BUCKETS, run_ts="2026-01-01",
    )


def _assert_equals_from_scratch(spark, rows, out):
    from ontology_mapper_spark.pipeline import (
        build_dictionary,
        comention_edges,
        detect_mentions,
        extract_triples,
        link_mentions,
    )

    terms = terms_df(spark)
    full_l = link_mentions(
        spark,
        detect_mentions(
            spark, spark.createDataFrame(rows, SCHEMA), build_dictionary(terms)
        ),
        terms,
        idf=None,
    )

    def rows_of(df, cols=None):
        return {tuple(r) for r in (df.select(*cols) if cols else df).collect()}

    link_cols = ["conv_id", "turn_idx", "begin", "end", "pattern", "class_iri", "rank"]
    assert rows_of(spark.read.parquet(f"{out}/links"), link_cols) == rows_of(
        full_l, link_cols
    )
    assert rows_of(compact_triples(spark, f"{out}/triples")) == rows_of(
        extract_triples(full_l, run_ts="2026-01-01")
    )
    edge_cols = ["entity_a", "entity_b", "n_comentions"]
    assert rows_of(compact_edges(spark, f"{out}/edges"), edge_cols) == rows_of(
        comention_edges(full_l, window_turns=2), edge_cols
    )


def test_nothing_new_batch_runs_no_jobs_after_detect(spark, tmp_path, monkeypatch):
    """With nothing new, link, materialize and edges decide from the
    upstream markers alone: no Spark job at all."""
    from ontology_mapper_spark.pipeline import incremental_runner

    out = str(tmp_path / "inc")
    _batch(spark, BATCH1 + BATCH2_NEW, out, xrefs_df(spark))
    sc = spark.sparkContext
    groups = {}

    def grouped(name, fn):
        def call(*args, **kwargs):
            groups[name] = f"test-incremental-{name}"
            sc.setJobGroup(groups[name], name)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return call

    for name in ("incremental_link", "incremental_materialize", "incremental_edges"):
        monkeypatch.setattr(
            incremental_runner, name, grouped(name, getattr(incremental_runner, name))
        )
    s = _batch(spark, BATCH1 + BATCH2_NEW, out)
    assert s["link"]["changed_buckets"] == []
    assert len(groups) == 3
    for name, group in groups.items():
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name


@pytest.mark.parametrize("table", ["mentions", "links", "triples", "edges"])
def test_write_dying_before_marker_recomputes(spark, tmp_path, monkeypatch, table):
    """A stage whose write lands but whose marker save dies leaves its old
    marker, so the next batch recomputes those buckets and the outputs
    equal a from-scratch run."""
    from ontology_mapper_spark.pipeline import incremental

    out = str(tmp_path / "inc")
    _batch(spark, BATCH1, out)
    real_save = incremental._save_marker
    fired = []

    def dies_once(path, marker):
        if path.endswith(table) and not fired:
            fired.append(path)
            raise OSError("injected marker-save failure")
        real_save(path, marker)

    monkeypatch.setattr(incremental, "_save_marker", dies_once)
    with pytest.raises(OSError, match="injected"):
        _batch(spark, BATCH1 + BATCH2_NEW, out)
    s = _batch(spark, BATCH1 + BATCH2_NEW, out)
    stage = {"mentions": "detect", "links": "link", "triples": "materialize",
             "edges": "edges"}[table]
    assert s[stage]["changed_buckets"]
    _assert_equals_from_scratch(spark, BATCH1 + BATCH2_NEW, out)


def test_manifest_schema_equals_inferred_schema(spark, tmp_path):
    from ontology_mapper_spark.catalog import read_manifest, read_table

    out = str(tmp_path / "inc")
    _batch(spark, BATCH1 + BATCH2_NEW, out, xrefs_df(spark))
    for table in ("mentions", "links", "triples", "edges", "canonical_labels"):
        path = f"{out}/{table}"
        assert read_manifest(path) is not None, table
        assert read_table(spark, path).schema == spark.read.parquet(path).schema, table
