"""Bucket-granular incremental detection: only changed buckets recompute,
untouched partitions stay byte-identical, results equal a full recompute."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ontology_mapper_spark.datagen import build_transcripts
from ontology_mapper_spark.pipeline.incremental import (
    bucket_fingerprints,
    incremental_detect,
)
from ontology_mapper_spark.pipeline.mention_detect import detect_mentions

PATTERNS = ["pain", "chronic pain"]
BUCKETS = 8


def _mentions_set(spark, path):
    return {
        (r.conv_id, r.turn_idx, r.begin, r.end, r.pattern)
        for r in spark.read.parquet(path).collect()
    }


def _full_set(spark, tr):
    return {
        (r.conv_id, r.turn_idx, r.begin, r.end, r.pattern)
        for r in detect_mentions(spark, tr, PATTERNS).collect()
    }


def test_incremental_detect_delta_only(spark, tmp_path):
    out = str(tmp_path / "mentions")
    tr1 = build_transcripts(spark, n_convs=30, seed=2, mention_labels=PATTERNS)

    r1 = incremental_detect(spark, tr1, PATTERNS, out, buckets=BUCKETS)
    assert len(r1["changed_buckets"]) > 0
    assert _mentions_set(spark, out) == _full_set(spark, tr1)

    # identical input → nothing recomputes
    r2 = incremental_detect(spark, tr1, PATTERNS, out, buckets=BUCKETS)
    assert r2["changed_buckets"] == [] and r2["removed_buckets"] == []

    # grow the corpus: 10 extra conversations → only their buckets change
    tr2 = build_transcripts(spark, n_convs=40, seed=2, mention_labels=PATTERNS)
    new_convs = {f"conv_{i:08d}" for i in range(30, 40)}
    expected_changed = {
        r.bucket
        for r in tr2.where(F.col("conv_id").isin(list(new_convs)))
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS)).alias("bucket"))
        .distinct()
        .collect()
    }
    # record mtimes of untouched bucket dirs before the delta run
    pre_mtimes = {
        d: os.path.getmtime(os.path.join(out, d))
        for d in os.listdir(out)
        if d.startswith("bucket=")
    }
    r3 = incremental_detect(spark, tr2, PATTERNS, out, buckets=BUCKETS)
    assert set(r3["changed_buckets"]) == expected_changed
    assert _mentions_set(spark, out) == _full_set(spark, tr2)
    for d, mt in pre_mtimes.items():
        b = int(d.split("=")[1])
        if b not in expected_changed:
            assert os.path.getmtime(os.path.join(out, d)) == mt, d


def test_incremental_detect_empty_recompute_drops_stale_bucket(spark, tmp_path):
    """ADVICE regression: a changed bucket whose recomputation yields ZERO
    rows must lose its old parquet directory — editing a conversation so it
    no longer matches any pattern must not leave a phantom mention."""
    out = str(tmp_path / "mentions")
    schema = "conv_id string, turn_idx int, text string"
    tr1 = spark.createDataFrame(
        [("cA", 0, "chronic pain is discussed"), ("cB", 0, "pain again")],
        schema,
    )
    incremental_detect(spark, tr1, PATTERNS, out, buckets=BUCKETS)
    assert len(_mentions_set(spark, out)) > 0

    # same conversations, text edited to match nothing → full recompute
    # returns empty; incremental must agree
    tr2 = spark.createDataFrame(
        [("cA", 0, "nothing to see here"), ("cB", 0, "still nothing")],
        schema,
    )
    r = incremental_detect(spark, tr2, PATTERNS, out, buckets=BUCKETS)
    assert r["changed_buckets"]
    assert r["rows_written"] == 0
    leftover = [d for d in os.listdir(out) if d.startswith("bucket=")]
    assert leftover == [], f"stale bucket dirs survived: {leftover}"


def test_incremental_link_empty_recompute_drops_stale_bucket(spark, tmp_path):
    """Same stale-partition guard for the link stage: mentions whose bucket
    empties out must not leave stale links behind."""
    from ontology_mapper_spark.datagen import build_snapshot
    from ontology_mapper_spark.pipeline.incremental import incremental_link

    terms, _ = build_snapshot(spark, n_terms=30, seed=1)
    m_out = str(tmp_path / "mentions")
    l_out = str(tmp_path / "links")
    schema = "conv_id string, turn_idx int, text string"
    tr1 = spark.createDataFrame([("cA", 0, "chronic pain here")], schema)
    incremental_detect(spark, tr1, PATTERNS, m_out, buckets=BUCKETS)
    incremental_link(spark, m_out, terms, l_out, dict_version="v1")
    assert spark.read.parquet(l_out).count() > 0

    tr2 = spark.createDataFrame([("cA", 0, "no matches anymore")], schema)
    incremental_detect(spark, tr2, PATTERNS, m_out, buckets=BUCKETS)
    incremental_link(spark, m_out, terms, l_out, dict_version="v1")
    leftover = [d for d in os.listdir(l_out) if d.startswith("bucket=")]
    assert leftover == [], f"stale link bucket dirs survived: {leftover}"


def test_bucket_fingerprints_stable_across_partitioning(spark):
    tr_a = build_transcripts(spark, n_convs=20, seed=9, partitions=2)
    tr_b = build_transcripts(spark, n_convs=20, seed=9, partitions=16)
    assert bucket_fingerprints(tr_a, 8) == bucket_fingerprints(tr_b, 8)


def test_incremental_link_delta_and_dict_invalidation(spark, tmp_path):
    from ontology_mapper_spark.datagen import build_snapshot
    from ontology_mapper_spark.pipeline.incremental import incremental_link

    terms, _ = build_snapshot(spark, n_terms=30, seed=1)
    m_out = str(tmp_path / "mentions")
    l_out = str(tmp_path / "links")
    tr1 = build_transcripts(spark, n_convs=30, seed=2, mention_labels=PATTERNS)
    incremental_detect(spark, tr1, PATTERNS, m_out, buckets=BUCKETS)

    r1 = incremental_link(spark, m_out, terms, l_out, dict_version="v1")
    assert r1["changed_buckets"]
    n1 = spark.read.parquet(l_out).count()
    assert n1 > 0

    # no change → no work
    r2 = incremental_link(spark, m_out, terms, l_out, dict_version="v1")
    assert r2["changed_buckets"] == []

    # corpus delta → only affected buckets relink; totals match full
    tr2 = build_transcripts(spark, n_convs=40, seed=2, mention_labels=PATTERNS)
    incremental_detect(spark, tr2, PATTERNS, m_out, buckets=BUCKETS)
    r3 = incremental_link(spark, m_out, terms, l_out, dict_version="v1")
    assert 0 < len(r3["changed_buckets"]) <= BUCKETS
    from ontology_mapper_spark.pipeline import link_mentions

    full = link_mentions(
        spark,
        spark.read.parquet(m_out).drop("bucket"),
        terms,
    ).count()
    assert spark.read.parquet(l_out).count() == full

    # dictionary version bump → every bucket recomputes
    r4 = incremental_link(spark, m_out, terms, l_out, dict_version="v2")
    all_buckets = {
        r.bucket
        for r in spark.read.parquet(m_out).select("bucket").distinct().collect()
    }
    assert set(r4["changed_buckets"]) == all_buckets


def test_incremental_detect_new_pattern_over_unchanged_transcripts(spark, tmp_path):
    """A pattern added to the dictionary is detected in buckets whose
    transcripts did not change: the pattern list is part of the marker."""
    out = str(tmp_path / "mentions")
    schema = "conv_id string, turn_idx int, text string"
    tr = spark.createDataFrame(
        [("cA", 0, "chronic pain after a hash join"), ("cB", 0, "pain")], schema
    )
    incremental_detect(spark, tr, ["pain"], out, buckets=BUCKETS)
    patterns = ["pain", "hash join"]
    r = incremental_detect(spark, tr, patterns, out, buckets=BUCKETS)
    assert r["changed_buckets"]
    want = {
        (m.conv_id, m.turn_idx, m.begin, m.end, m.pattern)
        for m in detect_mentions(spark, tr, patterns).collect()
    }
    assert "hash join" in {m[4] for m in want}
    assert _mentions_set(spark, out) == want
