"""Delta-aware connected components + incremental triple materialization
(VERDICT r1 item 5: extend bucket incrementality past detect/link).

Key insight for CC: edges are only ever ADDED to the xref graph, and the
engine's component id is the component's MIN node id. Adding edges can only
MERGE components, and the merged id is the min over the merged components'
ids — which equals the CC result over the CONTRACTED graph whose nodes are
old component ids (each old id is already the min of its members). So a
delta batch costs:

1. look up the old component of each delta endpoint (broadcast of the
   delta-sized node set against the bucket-partitioned label table — a
   map-side semi-join scan, never a shuffle of the full table);
2. run connected_components over the contracted delta edge set (delta-sized
   — thousands of rows even when 10^12 labels exist);
3. broadcast the old→new component remap back over the label table and
   rewrite ONLY the buckets containing a remapped row or a brand-new node
   (a staged bucket swap: the rewrite reads the buckets it replaces).

Result is bit-identical to a full recompute (the min-id argument; asserted
in tests), at delta-proportional cost.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import LOCAL_CC_THRESHOLD, connected_components
from .incremental import _load_marker, _save_marker, overwrite_buckets


def _bucket(col, buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def _labels_bucket_fps(labels: DataFrame) -> dict[str, int]:
    """Per-bucket order-insensitive fingerprint of (node, component) rows —
    the label table's commit marker payload (same pattern as
    _links_bucket_fps). Map-side partial agg; no shuffle of row data."""
    return {
        str(r["bucket"]): int(r["fp"])
        for r in labels.groupBy("bucket")
        .agg(
            F.sum(
                F.xxhash64("node", "component").cast("decimal(38,0)")
            ).alias("fp")
        )
        .collect()
    }


def write_component_labels(
    labels: DataFrame, out_path: str, buckets: int = 32
) -> None:
    """(node, component) → parquet partitioned by node-hash bucket, plus a
    per-bucket fingerprint marker so incremental_components can detect a
    mid-swap crash (ADVICE r2)."""
    labels.withColumn("bucket", _bucket(F.col("node"), buckets)).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(out_path)
    spark = labels.sparkSession
    _save_marker(out_path, _labels_bucket_fps(spark.read.parquet(out_path)))


def incremental_components(
    spark: SparkSession,
    labels_path: str,
    delta_edges: DataFrame,
    buckets: int = 32,
    src: str = "src_iri",
    dst: str = "dst_iri",
) -> dict:
    """Merge `delta_edges` into the label table at `labels_path` in place.

    Returns {'changed_buckets': [...], 'n_merges': int, 'n_new_nodes': int}.
    Every join against the full label table broadcasts the delta side; the
    only full-table work is map-side (the changed-bucket filter and the
    fingerprint verification scan).

    Crash safety (ADVICE r2): the per-bucket swap below is not atomic
    across buckets, so the table carries a per-bucket fingerprint marker
    (written by write_component_labels and updated after every successful
    swap). On entry the marker is re-verified against the table; a
    mismatch means a previous call died mid-swap (some buckets remapped,
    some stale) and this raises RuntimeError rather than silently merging
    onto a half-updated table — rebuild with write_component_labels(full
    recompute). Tables written before markers existed (no marker file)
    skip verification and adopt a marker on their first successful batch.
    """
    labels = spark.read.parquet(labels_path)
    marker = _load_marker(labels_path)
    if marker:
        current = _labels_bucket_fps(labels)
        if current != marker:
            bad = sorted(
                set(current) ^ set(marker)
                | {b for b in set(current) & set(marker) if current[b] != marker[b]}
            )
            raise RuntimeError(
                f"label table {labels_path} failed fingerprint verification "
                f"(buckets {bad[:8]}{'...' if len(bad) > 8 else ''}) — a "
                f"previous incremental_components died mid-swap; rebuild the "
                f"table with write_component_labels from a full recompute"
            )

    delta = delta_edges.select(
        F.col(src).cast("string").alias("u"), F.col(dst).cast("string").alias("v")
    ).where(F.col("u") != F.col("v"))
    delta_nodes = (
        delta.select(F.col("u").alias("node"))
        .unionByName(delta.select(F.col("v").alias("node")))
        .distinct()
    )

    # 1. old components of delta endpoints
    old_of = labels.join(F.broadcast(delta_nodes), "node", "inner").select(
        "node", "component"
    )
    old_u = old_of.select(F.col("node").alias("u"), F.col("component").alias("cu"))
    old_v = old_of.select(F.col("node").alias("v"), F.col("component").alias("cv"))

    # 2. contract to component space; solve the delta-sized CC
    contracted = (
        delta.join(F.broadcast(old_u), "u", "left")
        .join(F.broadcast(old_v), "v", "left")
        .select(
            F.coalesce("cu", F.col("u")).alias("src_iri"),
            F.coalesce("cv", F.col("v")).alias("dst_iri"),
        )
    )
    small_rows = connected_components(
        contracted, local_threshold=LOCAL_CC_THRESHOLD
    ).collect()
    remap_rows = [
        (r["node"], r["component"])
        for r in small_rows
        if r["node"] != r["component"]
    ]
    small_map = {r["node"]: r["component"] for r in small_rows}

    # brand-new nodes (absent from the old labels): their contracted id is
    # themselves, so their merged component is small_map[self]
    known = {r["node"] for r in old_of.collect()}
    new_nodes = [
        (n, small_map.get(n, n))
        for n in (r["node"] for r in delta_nodes.collect())
        if n not in known
    ]

    result = {
        "n_merges": len(remap_rows),
        "n_new_nodes": len(new_nodes),
        "changed_buckets": [],
    }
    if not remap_rows and not new_nodes:
        return result

    # 3. changed buckets and the bucket-local rewrite
    remap_df = (
        spark.createDataFrame(remap_rows, ["component", "_new_component"])
        if remap_rows
        else spark.createDataFrame([], "component string, _new_component string")
    )
    changed = {
        r["bucket"]
        for r in labels.join(F.broadcast(remap_df), "component", "inner")
        .select("bucket")
        .distinct()
        .collect()
    }
    new_df = None
    if new_nodes:
        new_df = spark.createDataFrame(new_nodes, ["node", "component"])
        changed |= {
            r["b"]
            for r in new_df.select(_bucket(F.col("node"), buckets).alias("b"))
            .distinct()
            .collect()
        }
    changed_list = sorted(int(b) for b in changed)
    result["changed_buckets"] = changed_list

    updated = (
        labels.where(F.col("bucket").isin(changed_list))
        .join(F.broadcast(remap_df), "component", "left")
        .select(
            "node",
            F.coalesce("_new_component", "component").alias("component"),
            F.col("bucket").cast("int").alias("bucket"),
        )
    )
    if new_df is not None:
        updated = updated.unionByName(
            new_df.withColumn("bucket", _bucket(F.col("node"), buckets))
        )

    # The rewrite READS the same bucket dirs it replaces, so it must land
    # in a staging dir first (deleting before the lazy write executes would
    # yank files out from under the scan); bucket dirs then swap in whole —
    # the same staging-plus-rename pattern a DFS commit uses. Also the
    # stale-partition guard: a changed bucket whose rewrite is empty stays
    # deleted.
    staging = labels_path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    updated.write.mode("overwrite").partitionBy("bucket").parquet(staging)
    for b in changed_list:
        shutil.rmtree(os.path.join(labels_path, f"bucket={b}"), ignore_errors=True)
        src_dir = os.path.join(staging, f"bucket={b}")
        if os.path.exists(src_dir):
            shutil.move(src_dir, os.path.join(labels_path, f"bucket={b}"))
    shutil.rmtree(staging, ignore_errors=True)

    # Commit marker: fingerprint the swapped buckets as they now exist on
    # disk (changed-bucket read only — partition-pruned); legacy tables
    # without a marker adopt a full one here.
    post = spark.read.parquet(labels_path)
    if marker:
        new_fps = dict(marker)
        for b in changed_list:
            new_fps.pop(str(b), None)
        new_fps.update(
            _labels_bucket_fps(post.where(F.col("bucket").isin(changed_list)))
        )
    else:
        new_fps = _labels_bucket_fps(post)
    _save_marker(labels_path, new_fps)
    return result


def incremental_materialize(
    spark: SparkSession,
    links_path: str,
    out_path: str,
    run_ts: str | None = None,
) -> dict:
    """Triple materialization for changed link buckets only.

    Triples are written partitioned by the links' conv-hash bucket and
    deduped WITHIN each bucket (extract_triples' global set semantics
    cannot be kept bucket-local; the periodic `compact_triples` pass
    restores them — the standard delta-ingest + compaction split).
    """
    from .materialize import extract_triples

    links = spark.read.parquet(links_path)
    fps = _links_bucket_fps(links)
    marker = _load_marker(out_path) if os.path.exists(out_path) else {}
    changed = sorted(int(b) for b in fps if marker.get(b) != fps[b])
    removed = sorted(int(b) for b in marker if b not in fps)
    result = {"changed_buckets": changed, "removed_buckets": removed}
    if not changed and not removed:
        return result

    delta_triples = None
    for b in changed:
        bt = extract_triples(
            links.where(F.col("bucket") == b).drop("bucket"), run_ts=run_ts
        ).withColumn("bucket", F.lit(b).cast("int"))
        delta_triples = bt if delta_triples is None else delta_triples.unionByName(bt)
    overwrite_buckets(delta_triples, out_path, changed + removed)
    _save_marker(out_path, fps)
    return result


def _links_bucket_fps(links: DataFrame) -> dict[str, int]:
    return {
        str(r["bucket"]): int(r["fp"])
        for r in links.groupBy("bucket")
        .agg(
            F.sum(
                F.xxhash64(
                    "conv_id", "turn_idx", "begin", "end", "pattern", "class_iri"
                ).cast("decimal(38,0)")
            ).alias("fp")
        )
        .collect()
    }


def incremental_edges(
    spark: SparkSession,
    links_path: str,
    out_path: str,
    window_turns: int = 2,
    entity_col: str = "class_iri",
) -> dict:
    """Co-mention edges for changed link buckets only.

    The co-mention self-join is conversation-local and bucket = hash of
    conv_id, so per-bucket PARTIAL edge counts are exact; only the final
    per-(a, b) sum crosses buckets, which `compact_edges` performs at read
    (sum is algebraic, so bucket-partial + compact == full recompute).
    """
    links = spark.read.parquet(links_path)
    fps = _links_bucket_fps(links)
    marker = _load_marker(out_path) if os.path.exists(out_path) else {}
    changed = sorted(int(b) for b in fps if marker.get(b) != fps[b])
    removed = sorted(int(b) for b in marker if b not in fps)
    result = {"changed_buckets": changed, "removed_buckets": removed}
    if not changed and not removed:
        return result

    partial = None
    if changed:
        ments = (
            links.where(F.col("bucket").isin(changed))
            .select(
                "bucket", "conv_id", "turn_idx",
                F.col(entity_col).alias("entity"),
            )
            .distinct()
        )
        a = ments.alias("a")
        b_ = ments.alias("b")
        partial = (
            a.join(
                b_,
                (F.col("a.conv_id") == F.col("b.conv_id"))
                & (F.col("b.turn_idx") >= F.col("a.turn_idx") - window_turns)
                & (F.col("b.turn_idx") <= F.col("a.turn_idx") + window_turns)
                & (F.col("a.entity") < F.col("b.entity")),
            )
            .groupBy(
                F.col("a.bucket").alias("bucket"),
                F.col("a.entity").alias("entity_a"),
                F.col("b.entity").alias("entity_b"),
            )
            .agg(F.count("*").alias("n_comentions"))
        )
    overwrite_buckets(partial, out_path, changed + removed)
    _save_marker(out_path, fps)
    return result


def compact_edges(spark: SparkSession, edges_path: str) -> DataFrame:
    """Bucket-partial co-mention counts → global (entity_a, entity_b,
    n_comentions) — an algebraic sum, exact vs a full recompute."""
    return (
        spark.read.parquet(edges_path)
        .groupBy("entity_a", "entity_b")
        .agg(F.sum("n_comentions").alias("n_comentions"))
    )


def compact_triples(spark: SparkSession, triples_path: str) -> DataFrame:
    """Global set-semantics view over bucket-partitioned delta triples
    (dropDuplicates on the triple key — run periodically or at read)."""
    return (
        spark.read.parquet(triples_path)
        .drop("bucket")
        .dropDuplicates(["subj", "pred", "obj"])
    )
