"""Delta-aware connected components + incremental triple materialization
(VERDICT r1 item 5: extend bucket incrementality past detect/link).

Key insight for CC: edges are only ever ADDED to the xref graph, and the
engine's component id is the component's MIN node id. Adding edges can only
MERGE components, and the merged id is the min over the merged components'
ids — which equals the CC result over the CONTRACTED graph whose nodes are
old component ids (each old id is already the min of its members). So a
delta batch costs:

1. look up the old component of each delta endpoint (a filter on the
   delta-sized node set over the bucket-partitioned label table — a
   map-side scan, never a shuffle of the full table);
2. solve CC over the contracted delta edge set on the driver (delta-sized
   — thousands of rows even when 10^12 labels exist);
3. apply the old→new component remap over the label table and
   rewrite ONLY the buckets containing a remapped row or a brand-new node
   (a staged bucket swap: the rewrite reads the buckets it replaces).

Result is bit-identical to a full recompute (the min-id argument; asserted
in tests), at delta-proportional cost.

Triples and co-mention edges of the changed link buckets come from the
batch `extract_triples` and `comention_edges`, each scoped by
`by=("bucket",)`; `compact_triples` and `compact_edges` merge the buckets
at read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table
from . import comention
from .canonicalize import local_components
from .incremental import (
    bucket_fingerprints,
    bucket_of,
    load_marker,
    refresh_buckets,
    write_buckets,
)


def _labels_fps(labels: DataFrame, buckets: int) -> dict[str, int]:
    """The label table's marker: a per-bucket content fingerprint of its
    (node, component) rows, verified by incremental_components."""
    return bucket_fingerprints(labels, buckets, ("node", "component"), "node")


def write_component_labels(
    labels: DataFrame, out_path: str, buckets: int = 32
) -> int:
    """(node, component) → a bucket table partitioned by node-hash bucket,
    every bucket replaced, with a content-fingerprint marker so
    incremental_components can detect a mid-swap crash (ADVICE r2).
    Returns the rows written."""
    return write_buckets(
        labels.withColumn("bucket", bucket_of("node", buckets)),
        out_path,
        list(range(buckets)),
        _labels_fps(labels, buckets),
    )


def incremental_components(
    spark: SparkSession,
    labels_path: str,
    delta_edges: DataFrame,
    buckets: int = 32,
    src: str = "src_iri",
    dst: str = "dst_iri",
) -> dict:
    """Merge `delta_edges` into the label table at `labels_path` in place.

    Returns {'changed_buckets': [...], 'removed_buckets': [], 'n_merges':
    int, 'n_new_nodes': int}. The delta is batch-sized and collected once;
    the only full-table work is map-side (the fingerprint verification,
    the delta-endpoint lookup and the changed-bucket filter).

    Crash safety (ADVICE r2): the per-bucket swap is not atomic across
    buckets, so the table carries a per-bucket content-fingerprint marker
    (written by write_component_labels and committed after every swap).
    On entry the marker is re-verified against the table; a mismatch means
    a previous call died mid-swap (some buckets remapped, some stale) and
    this raises RuntimeError rather than silently merging onto a
    half-updated table — rebuild with write_component_labels (full
    recompute). Tables without a marker skip verification and adopt one
    on their first successful batch.
    """
    labels = read_table(spark, labels_path)
    marker = load_marker(labels_path)
    current = _labels_fps(labels, buckets)
    if marker and current != marker:
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

    edges = [
        (r["u"], r["v"])
        for r in delta_edges.select(
            F.col(src).cast("string").alias("u"),
            F.col(dst).cast("string").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .collect()
    ]
    nodes = sorted({n for e in edges for n in e})

    # 1. old components of delta endpoints (one map-side scan)
    old = {
        r["node"]: r["component"]
        for r in labels.where(F.col("node").isin(nodes))
        .select("node", "component")
        .collect()
    }

    # 2. contract to component space; solve the delta-sized CC on the driver
    small = local_components((old.get(u, u), old.get(v, v)) for u, v in edges)
    remap_rows = [(n, c) for n, c in small.items() if n != c]
    # brand-new nodes (absent from the old labels): their contracted id is
    # themselves, so their merged component is small[self]
    new_nodes = [(n, small.get(n, n)) for n in nodes if n not in old]

    result = {
        "n_merges": len(remap_rows),
        "n_new_nodes": len(new_nodes),
        "changed_buckets": [],
        "removed_buckets": [],
    }
    if not remap_rows and not new_nodes:
        return result

    # 3. changed buckets (a remapped component or a new node) and their
    # rewrite, which reads the buckets it replaces
    # the remap is delta-sized, so it rides in the plan as a literal map
    remap = F.create_map(*[F.lit(c) for row in remap_rows for c in row])
    new_df = spark.createDataFrame(
        new_nodes, "node string, component string"
    ).withColumn("bucket", bucket_of("node", buckets))
    changed = sorted(
        r["bucket"]
        for r in labels.where(F.col("component").isin([c for c, _ in remap_rows]))
        .select("bucket")
        .unionByName(new_df.select("bucket"))
        .distinct()
        .collect()
    )
    result["changed_buckets"] = changed
    updated = (
        labels.where(F.col("bucket").isin(changed))
        .select(
            "node",
            F.coalesce(remap[F.col("component")], "component").alias("component"),
            "bucket",
        )
        .unionByName(new_df)
    )
    kept = {b: fp for b, fp in current.items() if int(b) not in changed}
    write_buckets(
        updated, labels_path, changed, {**kept, **_labels_fps(updated, buckets)}
    )
    return result


def incremental_materialize(
    spark: SparkSession,
    links_path: str,
    out_path: str,
    run_ts: str | None = None,
) -> dict:
    """Triples for the link buckets whose link marker (or `run_ts`)
    changed: one extract_triples plan over all of them.

    Triples are written partitioned by the links' conv-hash bucket and
    deduped WITHIN each bucket (extract_triples' set semantics scoped by
    `bucket`); the periodic `compact_triples` pass restores global set
    semantics — the standard delta-ingest + compaction split.
    """
    from .materialize import extract_triples

    def build(changed: list[int]) -> DataFrame:
        links = read_table(spark, links_path).where(F.col("bucket").isin(changed))
        return extract_triples(links, run_ts=run_ts, by=("bucket",))

    return refresh_buckets(out_path, load_marker(links_path), run_ts, build)


def incremental_edges(
    spark: SparkSession,
    links_path: str,
    out_path: str,
    window_turns: int = 2,
) -> dict:
    """Co-mention edges for the link buckets whose link marker (or
    `window_turns`) changed.

    The batch `comention_edges` with `by=("bucket",)`: its self-join is
    conversation-local and bucket = hash of conv_id, so per-bucket PARTIAL
    edge counts are exact; only the final per-(a, b) sum crosses buckets,
    which `compact_edges` performs at read (sum is algebraic, so
    bucket-partial + compact == full recompute).
    """

    def build(changed: list[int]) -> DataFrame:
        links = read_table(spark, links_path).where(F.col("bucket").isin(changed))
        # looked up at call time, so a wrapper set on the module sees it
        return comention.comention_edges(links, window_turns, by=("bucket",))

    return refresh_buckets(out_path, load_marker(links_path), window_turns, build)


def compact_edges(spark: SparkSession, edges_path: str) -> DataFrame:
    """Bucket-partial co-mention counts → global (entity_a, entity_b,
    n_comentions) — an algebraic sum, exact vs a full recompute."""
    return (
        read_table(spark, edges_path)
        .groupBy("entity_a", "entity_b")
        .agg(F.sum("n_comentions").alias("n_comentions"))
    )


def compact_triples(spark: SparkSession, triples_path: str) -> DataFrame:
    """Global set-semantics view over bucket-partitioned delta triples
    (dropDuplicates on the triple key — run periodically or at read)."""
    return (
        read_table(spark, triples_path)
        .drop("bucket")
        .dropDuplicates(["subj", "pred", "obj"])
    )
