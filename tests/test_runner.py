"""Stage checkpoint/resume semantics (north_rule O1/O2 analogue)."""

from __future__ import annotations

from ontology_mapper_spark.pipeline.runner import PipelineRunner


def _statuses(result):
    return {e["stage"]: e["status"] for e in result["events"]}


def test_fresh_run_then_resume_skips(spark, tmp_path):
    out = str(tmp_path / "kg")
    r1 = PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    assert set(_statuses(r1).values()) == {"ran"}
    r2 = PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=True).run()
    assert set(_statuses(r2).values()) == {"skipped"}


def test_param_change_invalidates(spark, tmp_path):
    out = str(tmp_path / "kg")
    PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    # different transcript count → transcripts and all downstream re-run,
    # snapshot/canonicalize (which depend only on the snapshot) are reused
    r = PipelineRunner(spark, out, n_convs=25, n_terms=30, resume=True).run()
    st = _statuses(r)
    assert st["snapshot"] == "skipped"
    assert st["canonicalize"] == "skipped"
    assert st["transcripts"] == "ran"
    assert st["mention_detect"] == "ran"
    assert st["link_score"] == "ran"
    assert st["materialize"] == "ran"


def test_outputs_readable_and_metrics_written(spark, tmp_path):
    out = str(tmp_path / "kg")
    PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    triples = spark.read.parquet(f"{out}/materialize")
    assert triples.count() > 0
    assert set(triples.columns) >= {"subj", "pred", "obj", "obj_type", "lang"}
    metrics = spark.read.parquet(f"{out}/_metrics")
    stages = {r.stage for r in metrics.select("stage").distinct().collect()}
    assert {"snapshot", "transcripts", "mention_detect", "link_score"} <= stages
    assert metrics.where("n_rows < 0").count() == 0


def _group_jobs(spark, group):
    store = spark.sparkContext._jsc.sc().statusStore()
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return [store.job(j).name() for j in sorted(ids)]


def test_table_writes_launch_no_read_back_count(spark, tmp_path, monkeypatch):
    """Every table write is one write job plus at most one schema read:
    no count or metrics job rides on it. AQE is off for the run so that a
    write's shuffles stay inside its one job; the only other jobs a write
    may launch are its broadcasts, which run as futures."""
    from ontology_mapper_spark import catalog

    sc = spark.sparkContext
    groups: list[str] = []
    real_write = catalog.write_table

    def grouped_write(df, path, **kw):
        group = f"test-write-{len(groups)}"
        sc.setJobGroup(group, path)
        try:
            return real_write(df, path, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            groups.append(group)

    monkeypatch.setattr(catalog, "write_table", grouped_write)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = str(tmp_path / "kg")
        PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    # four stages + snapshot, snapshot_xrefs, transcripts, edges, nodes
    assert len(groups) == 9
    for group in groups:
        names = _group_jobs(spark, group)
        parquet = [n for n in names if n.startswith("parquet at ")]
        assert 1 <= len(parquet) <= 2, (group, names)
        others = set(names) - set(parquet)
        assert all("withThreadLocalCaptured" in n for n in others), (group, names)


def test_metrics_one_row_per_ran_stage(spark, tmp_path):
    import json

    out = str(tmp_path / "kg")
    r = PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    ran = [e["stage"] for e in r["events"] if e["status"] == "ran"]
    rows = spark.read.parquet(f"{out}/_metrics").collect()
    assert sorted(x.stage for x in rows) == sorted(ran)
    for x in rows:
        table = spark.read.parquet(f"{out}/{x.stage}")
        assert x.n_rows == table.count()
        with open(f"{out}/{x.stage}/_manifest.json") as fh:
            assert json.load(fh)["row_count"] == x.n_rows
        assert x.wall_s >= 0 and x.run_ts == "1970-01-01T00:00:00"
    # a resumed run that skips everything adds no rows
    PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=True).run()
    assert spark.read.parquet(f"{out}/_metrics").count() == len(rows)


def test_edges_nodes_follow_link_score(spark, tmp_path):
    import os

    from ontology_mapper_spark.pipeline.runner import MARKER

    out = str(tmp_path / "kg")
    PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()

    def mtimes():
        return {
            t: os.path.getmtime(os.path.join(out, t, MARKER))
            for t in ("edges", "nodes")
        }

    first = mtimes()
    r = PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=True).run()
    assert _statuses(r)["link_score"] == "skipped"
    assert mtimes() == first
    # more transcripts → new link_score fingerprint → edges/nodes rewritten,
    # without events of their own
    r = PipelineRunner(spark, out, n_convs=25, n_terms=30, resume=True).run()
    assert _statuses(r)["link_score"] == "ran"
    assert not {"edges", "nodes"} & set(_statuses(r))
    again = mtimes()
    assert all(again[t] > first[t] for t in first)
    assert spark.read.parquet(f"{out}/nodes").count() > 0


def test_manifest_schema_equals_inferred_schema(spark, tmp_path):
    """Every runner table's manifest holds the schema a reader infers, so
    catalog.read_table needs no read-back."""
    from ontology_mapper_spark.catalog import read_manifest, read_table

    out = str(tmp_path / "kg")
    PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    tables = ("snapshot", "snapshot_xrefs", "transcripts", "mention_detect",
              "link_score", "canonicalize", "materialize", "edges", "nodes")
    for table in tables:
        path = f"{out}/{table}"
        assert read_manifest(path) is not None, table
        assert read_table(spark, path).schema == spark.read.parquet(path).schema, table


def test_runner_tables_unbucketed_few_files(spark, tmp_path):
    """Stages read their upstream table whole, so no runner table is laid
    out by a hash bucket, and the per-conversation tables are a few files
    each rather than a few per bucket."""
    import glob

    from ontology_mapper_spark.catalog import read_manifest

    out = str(tmp_path / "kg")
    PipelineRunner(spark, out, n_convs=20, n_terms=30, resume=False).run()
    tables = ("snapshot", "snapshot_xrefs", "transcripts", "mention_detect",
              "link_score", "canonicalize", "materialize", "edges", "nodes")
    for table in tables:
        assert read_manifest(f"{out}/{table}")["partition_spec"] != ["bucket"], table
    cap = spark.sparkContext.defaultParallelism
    for table in ("transcripts", "mention_detect", "link_score"):
        files = glob.glob(f"{out}/{table}/**/*.parquet", recursive=True)
        assert 1 <= len(files) <= cap, (table, len(files))


def test_local_components_collect_is_one_job(spark, tmp_path):
    """connected_components' driver-local path fetches a multi-partition
    edge table in one Spark job (CollectLimit alone would scan the first
    partition in a job of its own, then the rest)."""
    from ontology_mapper_spark.pipeline.canonicalize import connected_components

    path = str(tmp_path / "edges")
    edges = [(f"n{i}", f"n{i + 1}") for i in range(0, 40, 2)]
    spark.createDataFrame(edges, "src_iri string, dst_iri string").repartition(
        4
    ).write.parquet(path)
    read = spark.read.parquet(path)
    assert read.rdd.getNumPartitions() > 1
    sc = spark.sparkContext
    sc.setJobGroup("test-local-cc", "local components")
    try:
        labels = connected_components(read, local_threshold=1000)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(_group_jobs(spark, "test-local-cc")) == 1
    # each edge is its own component, labelled by its smaller node
    assert {(r["node"], r["component"]) for r in labels.collect()} == {
        (n, u) for u, v in edges for n in (u, v)
    }
