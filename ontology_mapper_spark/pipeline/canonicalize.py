"""Stage 3 — canonicalization: connected components over xref/synonym edges.

The reference canonicalizes implicitly: URI-priority dedup
(core/lookup.py:68-87) plus the BP→OLS acronym alias map
(services/ols.py:86-91). At graph scale that generalizes to connected
components over the identity-edge table (`xrefs` + same-label edges), with
the canonical id of a component = lexicographic min IRI (deterministic).

Algorithm: iterative "hash-to-min" label propagation —
  comp(v) ← min(comp(v), min over neighbors comp(u))
repeated until no label changes. Each iteration is one groupBy(node) — a
shuffle on the node key. Scale levers (SURVEY.md §4.3):

* edges are symmetrized once up front; self-loops dropped;
* `checkpoint()` (falls back to persist locally) every few iterations cuts
  the lineage so plan size stays O(1) in iterations;
* convergence is detected with a count of changed labels (an action per
  iteration — unavoidable for a data-dependent loop);
* hot nodes (a giant component through a hot ontology class) make the
  groupBy skew: AQE skew-join handling splits oversized partitions, and
  because the aggregation is an algebraic min, Spark's partial (map-side)
  aggregation already collapses hot keys before the shuffle — the classic
  salting trick is exactly this two-phase min, which the engine performs
  automatically for `min()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge count up to which callers take connected_components' driver-local
# union-find instead of the distributed loop (its `local_threshold`).
# 250k edges ≈ 250k × ~50B Rows ≈ 12MB driver heap — safe on a small
# driver while covering every realistic LSH-pruned candidate graph and
# dictionary-scale xref graph (VERDICT r2 item 7; was 1M).
LOCAL_CC_THRESHOLD = 250_000


def local_components(pairs) -> dict:
    """{node: component} over the (u, v) edges `pairs`, by a driver-side
    union-find: component = min node id reachable, as connected_components
    computes it. For edge sets that fit the driver."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    rep: dict = {}
    for n in parent:
        r = find(n)
        if r not in rep or n < rep[r]:
            rep[r] = n
    return {n: rep[find(n)] for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src_iri",
    dst: str = "dst_iri",
    max_iter: int = 64,
    stats: dict | None = None,
    hot_degree_threshold: int | None = None,
    local_threshold: int = 0,
) -> DataFrame:
    """(node, component) — component = min node id reachable; deterministic.

    `edges` is any DataFrame with two string node columns. Isolated nodes
    (absent from edges) are the caller's concern: union their identity rows
    afterwards if needed. Pass a dict as `stats` to receive
    {'iterations': k} (the number of propagate+jump rounds executed,
    including the final no-change round that proves convergence).

    Convergence bound: propagate+jump more than doubles the covered
    distance per round, so rounds ≈ log2(diameter) (pinned by the path-
    graph test); max_iter=64 therefore covers any graph that fits in
    storage — the loop exits early the moment the label signature stops
    changing, so the bound costs nothing in the common case.

    `hot_degree_threshold`: when set, each iteration's edge⋈label join
    routes nodes whose degree exceeds the threshold through an explicit
    hot-key broadcast join (operators/skewjoin.py) — the hub's edge rows
    never shuffle, closing the one skew hole that map-side-combined min()
    and AQE partition-splitting leave open. Degrees are computed once
    (the edge set is static across iterations). Off by default: below
    ~10^5-degree hubs the plain AQE path wins on job-count.

    `local_threshold`: when > 0 and the edge COUNT (one cheap action) is at
    or below it, labels are computed by a driver-side union-find instead of
    the iterative distributed loop — identical output (same min-reachable
    labels), but none of the ~3 parquet lineage cuts per iteration whose
    fixed cost dominates small graphs (the same size-gated logic as a
    broadcast-join threshold; collected data is bounded by the threshold).
    OFF by default so scale paths and the convergence property tests keep
    the distributed loop; `stats` reports {'iterations': 0, 'local': True}.
    """
    spark = edges.sparkSession
    if local_threshold:
        pairs_df = edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).where(F.col("u") != F.col("v"))
        # one bounded action decides AND fetches: collect threshold+1 rows;
        # if the limit was hit the graph is "big" and we fall through to
        # the distributed loop (the wasted fetch is capped by the threshold).
        # coalesce(1) makes it one job: CollectLimit over several partitions
        # scans the first one in a job of its own before the rest.
        rows = pairs_df.coalesce(1).limit(local_threshold + 1).collect()
        if len(rows) <= local_threshold:
            labels = local_components((r["u"], r["v"]) for r in rows)
            if stats is not None:
                stats["iterations"] = 0
                stats["local"] = True
            node_type = pairs_df.schema["u"].dataType
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField("node", node_type, False),
                    T.StructField("component", node_type, False),
                ]
            )
            return spark.createDataFrame(list(labels.items()), schema)
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        .distinct()
    )
    # initial label: min(self, min neighbor) in one pass
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
        .select(F.col("u").alias("node"), "component")
    )

    # Lineage MUST be cut every iteration: each round's plan embeds the
    # previous round's twice (union + join), so without a cut the
    # optimizer's tree grows exponentially and the driver OOMs long before
    # the data does. The cut is a parquet write + read-back
    # (operators/lineage.py): a reliable checkpoint, immune to the Spark
    # 4.1 `NoSuchElementException: key not found: <attr>` that both
    # checkpoint() and localCheckpoint() hit across loop iterations.
    from ..operators.lineage import parquet_cutter

    cut = parquet_cutter(spark, prefix="omx-cc-ckpt-")

    # root the loop at a checkpoint (materializes sym once; replaces the
    # persist() every iteration reused anyway)
    sym = cut(sym)
    labels = cut(labels)

    # optional explicit skew routing: the edge set is static across
    # iterations, so the hot/cold split is computed ONCE here (not per
    # iteration as the generic operators/skewjoin.py helper would) — the
    # hub's edge rows are written to their own checkpoint files a single
    # time and then only ever map-side-joined.
    sym_hot = sym_cold = hot = None
    if hot_degree_threshold is not None:
        from ..operators.skewjoin import hot_keys

        hot = F.broadcast(cut(hot_keys(sym, "v", hot_degree_threshold)))
        sym_hot = cut(sym.join(hot, "v", "left_semi"))
        sym_cold = cut(sym.join(hot, "v", "left_anti"))

    def signature(df: DataFrame):
        # decimal(38,0) sum of row hashes: exact, order-independent, and
        # immune to ANSI long overflow
        row = df.select(
            F.coalesce(
                F.sum(F.xxhash64("node", "component").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s")
        ).first()
        return row["s"]

    prev_sig = signature(labels)
    iterations = 0
    for _ in range(max_iter):
        iterations += 1
        # propagate: each node takes min(own, neighbors' labels).
        # All joins below use NAME-based keys over fresh projections —
        # df["col"] attribute references captured across checkpoint
        # boundaries go stale and blow up iteration 2's analysis with
        # `NoSuchElementException: key not found` (Spark 4.1).
        labels_v = labels.select(F.col("node").alias("v"), "component")
        if sym_hot is not None:
            # hot nodes: few distinct keys → their label slice is tiny and
            # broadcast; the hub's (huge) edge partition joins map-side
            # with zero shuffle. Cold nodes take the normal join, now
            # without its worst key.
            joined = (
                sym_hot.join(
                    F.broadcast(labels_v.join(hot, "v", "left_semi")),
                    "v",
                    "inner",
                )
                .unionByName(sym_cold.join(labels_v, "v", "inner"))
            )
        else:
            joined = sym.join(labels_v, "v", "inner")
        neighbor_labels = joined.select(
            F.col("u").alias("node"), F.col("component")
        )
        # cut before the self-join below: joining two aliases of the same
        # uncheckpointed iterative plan trips Catalyst attribute resolution
        # (NoSuchElementException on localCheckpoint) and would double-run
        # the propagation anyway
        propagated = cut(
            labels.select("node", "component")
            .unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: comp(v) ← comp(comp(v)). Halves convergence
        # rounds on long chains (O(log d) instead of O(d)) — at scale each
        # avoided round is one join+groupBy shuffle over the node set.
        jump = propagated.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        new_labels = cut(
            propagated.alias("p")
            .join(jump, F.col("p.component") == F.col("jnode"), "left")
            .select(
                F.col("p.node").alias("node"),
                F.least(
                    F.col("p.component"), F.coalesce("jcomp", F.col("p.component"))
                ).alias("component"),
            )
        )
        # convergence: compare hash-sum signatures instead of joining the
        # old and new label tables — (a) a map-side agg is cheaper than a
        # join at 10^12-node scale, (b) labels only ever decrease, so the
        # signature changes iff any label changed (2^-64 collision odds,
        # and max_iter bounds the loop regardless), and (c) joining two
        # checkpoint generations is what trips the Spark 4.1 stale-attribute
        # bug this loop previously hit. One action per iteration: the
        # previous signature is carried, not recomputed.
        new_sig = signature(new_labels)
        labels = new_labels
        if new_sig == prev_sig:
            break
        prev_sig = new_sig
    if stats is not None:
        stats["iterations"] = iterations
    return labels


def canonical_mapping(
    terms_df: DataFrame, xrefs: DataFrame, local_threshold: int = LOCAL_CC_THRESHOLD
) -> DataFrame:
    """(class_iri, canonical_iri) for every IRI in the dictionary.

    Components come from the xref graph; dictionary IRIs not in any xref map
    to themselves. canonical_iri = component min (stable under parallelism).

    Xref graphs are dictionary-scale (orders of magnitude below the
    transcript corpus), so the size-gated driver-local CC fast path is ON
    by default here — identical labels with none of the per-iteration
    lineage-cut fixed cost; graphs past the gate fall through to the
    distributed loop automatically (parity + fall-through tested, same
    pattern as dedup_clusters).
    """
    comp = connected_components(xrefs, local_threshold=local_threshold)
    all_iris = terms_df.select(F.col("class_iri")).distinct()
    return (
        all_iris.join(
            comp.select(F.col("node").alias("class_iri"), "component"),
            "class_iri",
            "left",
        )
        .select(
            "class_iri",
            F.coalesce(F.col("component"), F.col("class_iri")).alias("canonical_iri"),
        )
    )
