"""Graph-analytics operators over KG edge tables (PageRank, triangles).

A knowledge-graph build doesn't stop at edges: ranking entities by
centrality (which nodes matter?) and measuring local closure (is this
neighborhood a real community or co-occurrence noise?) are the standard
next steps (reference analogue: the alignment-graph summaries of
``core/comparison.py`` stop at counts; these are the scale-out upgrades).

Design notes for 100 TB:

* **PageRank is integer micro-fixed-point.** Ranks live as bigint micros
  (1.0 == 1_000_000); one iteration is `new = jump + (damp_pct *
  sum(contrib)) div 100` where every `contrib = (rank * weight) div
  out_weight` is an integer. Integer sums are order-independent, so the
  result is bit-identical on any engine, any partitioning, any shuffle
  order — the same reproducibility discipline as q66's NLL. Dangling
  mass is dropped (documented semantics, standard in sparse impls).
* **The rank vector is broadcast, edges never move.** Per iteration the
  only shuffle is the groupBy(dst) partial-aggregated sum; the edge
  table is joined map-side via an explicit broadcast of the (small)
  rank vector. For node sets too big to broadcast, pass
  ``broadcast_ranks=False`` to fall back to a shuffled hash join —
  same results, pinned by tests.
* **Triangles use degree-ordered orientation** (Cohen 2009): each
  undirected edge is directed from the (degree, node)-smaller endpoint
  to the larger, bounding every node's out-degree by O(sqrt(m)) so the
  wedge join never explodes on hubs — the skew story that makes
  triangle counting feasible at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline.canonicalize import LOCAL_CC_THRESHOLD


def _pin(df: DataFrame) -> DataFrame:
    """Persist a derived edge/adjacency table that the operator reuses
    several times (loop iterations, wedge-join branches). The input
    corpus may be 100 TB; the AGGREGATED graph is |V|+|E|-bounded and
    this is exactly the table worth keeping hot — without it every
    reuse point re-runs the full upstream scan. MEMORY_AND_DISK so a
    big graph spills instead of OOMing; entries stay cached for the
    session (callers can spark.catalog.clearCache())."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def pagerank_micro(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping_pct: int = 85,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Weighted PageRank in exact integer micro-fixed-point.

    Semantics (the spec an oracle can replay in any SQL engine):
      rank0(v)   = 1_000_000                          # mean-1 convention
      contrib(e) = (rank(src) * w(e)) div W_out(src)  # integer division
      rank'(v)   = (100 - damping_pct) * 10_000
                   + (damping_pct * sum(contrib into v)) div 100
    Nodes with no in-edges hold the jump term; dangling-node mass is
    dropped. All operations are bigint — no doubles anywhere.

    Returns (node, rank_micro) for every node in src ∪ dst.
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"), w.alias("_w")
    )
    # collapse parallel edges once, up front — the loop re-reads this
    e = e.groupBy("_src", "_dst").agg(F.sum("_w").alias("_w"))
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    e = _pin(e.join(out_w, "_src"))
    nodes = _pin(
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    jump = (100 - damping_pct) * 10_000
    ranks = nodes.select("node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    for _ in range(iterations):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            e.join(r, e["_src"] == r["node"])
            .select(
                "_dst",
                F.expr("(rank_micro * _w) div _ow").alias("_c"),
            )
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_m"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["_dst"], "left")
            .select(
                "node",
                F.expr(
                    f"CAST({jump} + ({damping_pct} * coalesce(_m, 0)) div 100 AS BIGINT)"
                ).alias("rank_micro"),
            )
        )
    return ranks


def triangle_stats(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient.

    Input is an undirected simple graph given as one row per edge in
    either order (self-loops and duplicates are cleaned here). Each
    edge is oriented from the (degree, node)-smaller endpoint to the
    larger; a triangle is counted exactly once as the oriented wedge
    a→b, a→c (b<c in the order) closed by b→c. Per-node counts credit
    all three corners; clustering coefficient is the single-division
    micro ratio 2·tri / (deg·(deg−1)).

    Output: (node, degree, triangles, lcc_micro).
    """
    e = _pin(
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b")
        )
        .distinct()
    )
    both = e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    deg = both.groupBy("_a").agg(F.count("*").alias("deg")).withColumnRenamed("_a", "node")
    # orient by (degree, node): hubs get bounded out-degree.
    # The degree table is |V|-sized — broadcast it to keep the tag map-side.
    d = F.broadcast(deg)
    ed = (
        both.join(d.select(F.col("node").alias("_a"), F.col("deg").alias("_da")), "_a")
        .join(d.select(F.col("node").alias("_b"), F.col("deg").alias("_db")), "_b")
        .where(
            (F.col("_da") < F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b")))
        )
        .select("_a", "_b")
    )
    ed = _pin(ed)  # reused by both wedge sides and the closing probe
    w1 = ed.select(F.col("_a").alias("_x"), F.col("_b").alias("_u"))
    w2 = ed.select(F.col("_a").alias("_x"), F.col("_b").alias("_v"))
    wedges = w1.join(w2, "_x").where(F.col("_u") < F.col("_v"))
    closing = ed.select(
        F.least("_a", "_b").alias("_u"), F.greatest("_a", "_b").alias("_v")
    )
    tris = wedges.join(closing, ["_u", "_v"], "left_semi")
    corners = (
        tris.select(F.col("_x").alias("node"))
        .union(tris.select(F.col("_u").alias("node")))
        .union(tris.select(F.col("_v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(F.col("deg") < 2, F.lit(0))
            .otherwise(
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1))
                    * 1e6
                )
            )
            .cast("long")
            .alias("lcc_micro"),
        )
    )


def word_cooccur_edges(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Adjacent-word co-occurrence edges over normalized text: one row
    per ordered bigram occurrence collapsed to (src, dst, weight),
    weight = corpus count, edges below ``min_count`` dropped (noise
    floor — the same cheap-threshold discipline as LSH's stop-shingle
    caps). Directed (w_i → w_{i+1}); undirected consumers fold with
    least/greatest."""
    from .dedup import normalized_text_col

    toks = df.select(
        F.split(normalized_text_col(F.col(text_col)), " ").alias("_t")
    )
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.col("_t"),
                F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(1))),
                lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
            )
        ).alias("_p")
    ).select("_p.src", "_p.dst").where(
        (F.col("src") != "") & F.col("dst").isNotNull() & (F.col("dst") != "")
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
        .where(F.col("weight") >= min_count)
    )


def khop_counts(edges: DataFrame, a_col: str = "src", b_col: str = "dst") -> DataFrame:
    """Exact 1-hop and exclusive 2-hop neighborhood sizes per node over
    an undirected simple graph (edges given in either direction; cleaned
    here). n_2hop counts nodes reachable in exactly two hops that are
    neither the node itself nor a direct neighbor — the frontier a
    GraphSAGE-style 2-hop feature aggregation would touch.

    Scale: one self-join on the shared neighbor key, then a distinct on
    (node, target) before counting — the frontier dedup IS the cost, and
    it's the standard one; hub nodes are the skew point, so feed this
    edges that already passed a noise-floor cut (see word_cooccur_edges).
    Output: (node, n_1hop, n_2hop).
    """
    e = _pin(
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b"))
        .distinct()
    )
    both = e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    deg = both.groupBy("_a").agg(F.count("*").alias("n_1hop"))
    two = (
        both.select(F.col("_a").alias("_x"), F.col("_b").alias("_mid"))
        .join(
            both.select(F.col("_a").alias("_mid"), F.col("_b").alias("_y")),
            "_mid",
        )
        .where(F.col("_x") != F.col("_y"))
        .select("_x", "_y")
        .distinct()
        # exactly-2-hops: drop targets that are also direct neighbors
        .join(
            both.select(F.col("_a").alias("_x"), F.col("_b").alias("_y")),
            ["_x", "_y"],
            "left_anti",
        )
        .groupBy("_x")
        .agg(F.count("*").alias("n_2hop"))
    )
    return (
        deg.withColumnRenamed("_a", "node")
        .join(two.withColumnRenamed("_x", "node"), "node", "left")
        .select(
            "node",
            F.col("n_1hop").cast("long"),
            F.coalesce(F.col("n_2hop"), F.lit(0)).cast("long").alias("n_2hop"),
        )
    )


def deterministic_walks(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    walk_len: int = 3,
) -> DataFrame:
    """node2vec-style random-walk corpus with NO RNG state: from every
    node, one walk of up to ``walk_len`` steps where step t out of node
    v picks neighbor index md5(start|v|t) mod out_degree(v) under the
    neighbor order (dst asc). Fully reproducible from the edge list
    alone — the property that makes walk corpora regenerable per
    snapshot instead of stored. Walks stop early at sink nodes.

    Scale: the adjacency table (src, idx, dst, deg) is built once with
    a per-src rank window; each step is one equi-join of the frontier
    against it on (node, idx) — walk_len joins total, AQE-planned.
    Output: (start, step, node), step 0..walk_len.
    """
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")).distinct()
    wn = Window.partitionBy("_s").orderBy(F.col("_d").asc())
    adj = _pin(
        e.select(
            "_s",
            "_d",
            (F.row_number().over(wn) - 1).alias("_idx"),
            F.count("*").over(Window.partitionBy("_s")).alias("_deg"),
        )
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    frontier = nodes.select(
        F.col("node").alias("start"), F.lit(0).alias("step"), F.col("node")
    )
    out = [frontier]
    for t in range(1, walk_len + 1):
        pick = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("start"), F.col("node"), F.lit(str(t)))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        frontier = (
            frontier.join(adj, frontier["node"] == adj["_s"])
            .where((pick % F.col("_deg")) == F.col("_idx"))
            .select("start", F.lit(t).alias("step"), F.col("_d").alias("node"))
        )
        out.append(frontier)
    allw = out[0]
    for p in out[1:]:
        allw = allw.unionAll(p)
    return allw.select("start", F.col("step").cast("long"), "node")


def link_prediction_scores(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    min_common: int = 2,
) -> DataFrame:
    """Common-neighbors / Jaccard / Adamic-Adar link-prediction scores
    for NON-edges of an undirected simple graph (Liben-Nowell & Kleinberg
    2003) — the KG edge-inference step: which entity pairs are probably
    related but not yet linked?

    Adamic-Adar is an integer micro sum: each common neighbor z
    contributes round(1e6/ln(deg(z))) — ln once per DISTINCT node (a
    common neighbor always has deg >= 2, so ln > 0) — making the sum
    order-independent. Jaccard is the single-division micro ratio
    |common| / (deg_u + deg_v − |common|).

    Scale: candidates come from the wedge join only (pairs sharing at
    least one neighbor — never all-pairs); `min_common` prunes the long
    tail before scoring. Output: (node_a, node_b, n_common,
    jaccard_micro, adamic_adar_micro), node_a < node_b.
    """
    e = _pin(
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b"))
        .distinct()
    )
    both = e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    deg = both.groupBy("_a").agg(F.count("*").alias("_deg"))
    aa = F.broadcast(
        deg.select(
            F.col("_a").alias("_z"),
            F.expr("CAST(round(1e6 / ln(_deg)) AS BIGINT)").alias("_aa"),
            F.col("_deg").alias("_zdeg"),
        )
    )
    # wedges through each mid node z: unordered candidate pair (u, v)
    w1 = both.select(F.col("_b").alias("_z"), F.col("_a").alias("_u"))
    w2 = both.select(F.col("_b").alias("_z"), F.col("_a").alias("_v"))
    cand = (
        w1.join(w2, "_z")
        .where(F.col("_u") < F.col("_v"))
        .join(aa, "_z")
        .groupBy("_u", "_v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum("_aa").alias("adamic_adar_micro"),
        )
        .where(F.col("n_common") >= min_common)
        # link prediction: existing edges are excluded
        .join(
            e.select(F.col("_a").alias("_u"), F.col("_b").alias("_v")),
            ["_u", "_v"],
            "left_anti",
        )
    )
    du = deg.select(F.col("_a").alias("_u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("_a").alias("_v"), F.col("_deg").alias("_dv"))
    return (
        cand.join(F.broadcast(du), "_u")
        .join(F.broadcast(dv), "_v")
        .select(
            F.col("_u").alias("node_a"),
            F.col("_v").alias("node_b"),
            F.col("n_common").cast("long"),
            F.expr(
                "CAST(round(n_common * 1e6 / (_du + _dv - n_common)) AS BIGINT)"
            ).alias("jaccard_micro"),
            F.col("adamic_adar_micro").cast("long"),
        )
    )


def _closure_local(
    rows: list,
    spark,
    max_depth: int,
    node_type,
) -> DataFrame:
    """Driver-local min-depth closure by per-node BFS over the parent
    adjacency — bit-parity with the distributed doubling loop (BFS level
    IS the shortest path; self-pairs excluded exactly as the loop's
    node != ancestor filter drops them every round; 2*max_depth mirrors
    the loop's final doubling bound)."""
    from collections import defaultdict, deque

    adj: dict = defaultdict(list)
    for child, parent in rows:
        adj[child].append(parent)
    out = []
    for start in adj:
        seen = {start}
        dq = deque([(start, 0)])
        while dq:
            node, d = dq.popleft()
            if d >= 2 * max_depth:
                continue
            for p in adj.get(node, ()):
                if p not in seen:
                    seen.add(p)
                    out.append((start, p, d + 1))
                    dq.append((p, d + 1))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("ancestor", node_type, False),
            T.StructField("depth", T.LongType(), False),
        ]
    )
    return spark.createDataFrame(out, schema)


def transitive_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_depth: int = 64,
    local_threshold: int = LOCAL_CC_THRESHOLD,
) -> DataFrame:
    """All (node, ancestor, depth) pairs of a DAG by iterative doubling —
    the rdfs:subClassOf / skos:broader closure a KG materializes so
    "all descendants of X" becomes one equality probe instead of a
    runtime graph walk (reference analogue: the per-term hierarchy the
    BioPortal API returns pre-expanded, services/bioportal.py).

    depth is the SHORTEST path length (min over all derivations), so the
    result is well-defined on any DAG, not just trees.

    Scale: doubling needs ceil(log2(D)) rounds for diameter D (a
    20-deep ontology = 5 rounds), each one equi-join + min-agg — vs D
    rounds for naive frontier expansion. Every round's result is
    persisted and materialized via count() (also the convergence test),
    so round k+1 joins a pinned |closure| table instead of replaying
    the whole lineage; no checkpoint() (Spark 4.1 loop bug, see
    pipeline/canonicalize.py).

    Cycles: a cycle would make the closure infinite; we stop when the
    pair set stops growing, so cyclic SCCs converge to their finite
    pair set with min depths, and `max_depth` bounds pathological
    inputs either way.

    Small-graph fast path (same contract as canonical_mapping's
    local_threshold): when the deduped edge set fits the driver
    (<= `local_threshold` rows), the multi-round pinned loop's fixed
    per-round job cost dwarfs the actual work, so the closure is built
    by driver-local BFS (bit-parity pinned by
    tests/test_closure_local.py) — O(edges) memory for the adjacency;
    output is O(V x avg-ancestor-set), fine for depth-bounded ontology
    DAGs (pass local_threshold=0 for dense pathological graphs). The
    distributed loop remains the >threshold path unchanged.
    """
    base = (
        edges.select(
            F.col(child_col).alias("node"), F.col(parent_col).alias("ancestor")
        )
        .where(F.col("node") != F.col("ancestor"))
        .distinct()
    )
    if local_threshold:
        n_edges = base.count()
        if n_edges <= local_threshold:
            rows = [(r["node"], r["ancestor"]) for r in base.collect()]
            return _closure_local(
                rows,
                edges.sparkSession,
                max_depth,
                base.schema["node"].dataType,
            )
    c = _pin(base.withColumn("depth", F.lit(1).cast("long")))
    n = c.count()
    depth_reached = 1
    while depth_reached < max_depth:
        # double: paths of length <= 2*depth_reached
        left = c.select("node", F.col("ancestor").alias("_mid"), "depth")
        right = c.select(
            F.col("node").alias("_mid"),
            "ancestor",
            F.col("depth").alias("_d2"),
        )
        nxt = _pin(
            left.join(right, "_mid")
            .select("node", "ancestor", (F.col("depth") + F.col("_d2")).alias("depth"))
            .unionByName(c.select("node", "ancestor", "depth"))
            .where(F.col("node") != F.col("ancestor"))
            .groupBy("node", "ancestor")
            .agg(F.min("depth").alias("depth"))
        )
        n2 = nxt.count()
        grew = n2 != n
        c.unpersist()
        c, n = nxt, n2
        depth_reached *= 2
        if not grew:
            break
    return c.select("node", "ancestor", F.col("depth").cast("long").alias("depth"))


def label_propagation(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    rounds: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), fully deterministic: every node starts labeled with its
    own id; each round it adopts the label held by the PLURALITY of its
    neighbors, ties broken by the SMALLEST label. A fixed round count
    (default 2) keeps the result a pure function of the edge list —
    LPA's usual run-to-oscillation needs randomized tie-breaks that no
    two engines reproduce.

    Per round: one join (neighbor label lookup), one count agg, one
    per-node window rank with a total order (count desc, label asc) —
    all shuffles keyed by node id. Isolated nodes keep their own label
    via the left join fallback. The undirected edge set is pinned once;
    labels stay (node, label) narrow, so at 10^11 edges each round is
    two shuffles of |V|-bounded data after the neighbor expand.

    Output: (node, label).
    """
    e = _pin(
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b"))
        .distinct()
    )
    both = e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    nodes = both.select(F.col("_a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    rk = Window.partitionBy("_a").orderBy(F.col("_n").desc(), F.col("label").asc())
    for _ in range(int(rounds)):
        nb = both.join(
            labels.select(F.col("node").alias("_b"), "label"), "_b"
        ).select("_a", "label")
        picked = (
            nb.groupBy("_a", "label")
            .agg(F.count("*").alias("_n"))
            .withColumn("_r", F.row_number().over(rk))
            .where(F.col("_r") == 1)
            .select(F.col("_a").alias("node"), "label")
        )
        labels = (
            nodes.join(picked, "node", "left")
            .select(
                "node", F.coalesce("label", F.col("node")).alias("label")
            )
        )
    return labels.select("node", "label")


def kcore_peel(
    edges: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected simple graph: each
    round drops every node whose degree WITHIN the surviving subgraph is
    < k, then recomputes. With enough rounds this converges to the exact
    k-core; a FIXED round count keeps the result a pure function of
    (edges, k, rounds) that any engine replays bit-identically — the
    same determinism contract as `label_propagation`. Callers who need
    the true core pick rounds >= the peel depth (tests assert the
    fixpoint by comparing consecutive round counts).

    Per round: one degree agg + two semi-joins against the survivor
    set — all shuffles keyed by node id, survivor set is |V|-bounded
    and shrinks monotonically. Output: (node, degree) of nodes alive
    after `rounds` peels, degree measured within the surviving subgraph.
    """
    e = _pin(
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b"))
        .distinct()
    )
    cur = e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    prev = None
    for _ in range(int(rounds)):
        keep = (
            cur.groupBy("_a")
            .agg(F.count("*").alias("_d"))
            .where(F.col("_d") >= int(k))
            .select("_a")
        )
        cur = _pin(
            cur.join(keep, "_a", "semi").join(
                keep.withColumnRenamed("_a", "_b"), "_b", "semi"
            )
        )
        # each round references the previous survivor graph TWICE
        # (directly and through `keep`); without eager materialization
        # the recompute doubles per round — 2^rounds scans of the
        # upstream plan (measured: 129 s at sf0.1 for rounds=4, ~3 s
        # materialized). count() forces the cache; values are
        # unaffected (pure function of (edges, k, rounds)).
        cur.count()
        if prev is not None:
            prev.unpersist()
        prev = cur
    return (
        cur.groupBy("_a")
        .agg(F.count("*").cast("long").alias("degree"))
        .select(F.col("_a").alias("node"), "degree")
    )


def hits_micro(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) in exact integer
    micro-fixed-point — the companion to `pagerank_micro`, same
    reproducibility discipline: no doubles anywhere, so integer sums are
    order-independent and the distributed loop is bit-identical to an
    unrolled-CTE oracle under any partitioning.

    Semantics per iteration (h starts at 1_000_000 for every node):
      a_raw(v) = sum over in-edges  (h(src) * w)      # bigint
      a(v)     = (a_raw(v) * 1_000_000) div max(a_raw)  # max-norm
      h_raw(v) = sum over out-edges (a(dst) * w)
      h(v)     = (h_raw(v) * 1_000_000) div max(h_raw)
    Max-normalization (not L2) keeps everything integral; scores land in
    [0, 1_000_000] with the top hub/authority pinned at exactly 1e6.
    Overflow bound: max(h) * W_in(v) must stay < 2^63, i.e. the heaviest
    node's summed in-weight < 9.2e12 — pre-scale weights above that.

    The score vectors are |V|-bounded and broadcast into the edge join;
    edges never shuffle. The scalar max travels via a broadcast
    cross-join (one row). Output: (node, hub_micro, auth_micro).
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    e = (
        edges.select(
            F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"), w.alias("_w")
        )
        .groupBy("_src", "_dst")
        .agg(F.sum("_w").alias("_w"))
    )
    e = _pin(e)
    nodes = _pin(
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    MICRO = 1_000_000

    def _half(scores, score_col, join_on, group_by):
        raw = (
            e.join(
                F.broadcast(scores.select(F.col("node").alias(join_on), score_col)),
                join_on,
            )
            .select(group_by, F.expr(f"{score_col} * _w").alias("_c"))
            .groupBy(group_by)
            .agg(F.sum("_c").alias("_s"))
        )
        # `raw` feeds BOTH the max-norm scalar and the score join; left
        # lazy, every half-iteration doubles the recompute of the whole
        # prefix (2^(2·iters) blowup — the q96 lesson). |V|-bounded, so
        # materializing is cheap and values are unchanged.
        raw = _pin(raw)
        raw.count()
        mx = raw.agg(F.max("_s").alias("_mx"))
        return (
            nodes.join(
                raw.select(F.col(group_by).alias("node"), "_s"), "node", "left"
            )
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(
                    f"CAST((coalesce(_s, 0) * {MICRO}) div greatest(_mx, 1)"
                    " AS BIGINT)"
                ).alias(score_col),
            )
        )

    h = nodes.select("node", F.lit(MICRO).cast("long").alias("hub_micro"))
    a = None
    for _ in range(int(iterations)):
        a = _half(h, "hub_micro", "_src", "_dst").withColumnRenamed(
            "hub_micro", "auth_micro"
        )
        h = _half(a, "auth_micro", "_dst", "_src").withColumnRenamed(
            "auth_micro", "hub_micro"
        )
    return nodes.join(h, "node").join(a, "node").select(
        "node", "hub_micro", "auth_micro"
    )


def sssp(
    edges: DataFrame,
    source: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
    max_rounds: int = 32,
) -> DataFrame:
    """Single-source shortest paths by frontier Bellman-Ford relaxation
    — the Pregel SSSP shape: each round relaxes only edges out of nodes
    whose distance IMPROVED last round, so total work is O(sum of
    frontier sizes), not rounds×|E|; rounds needed = the hop count of
    the longest shortest path (log-diameter rewrites don't apply — path
    weights aren't mergeable pairwise without all-pairs state).

    Integer weights ⇒ exact min-plus arithmetic everywhere. Every round
    pins the distance table (persist+count, the convergence probe) so
    round k+1 joins a materialized |V|-bounded table; converges (empty
    frontier) or stops at `max_rounds`.

    Returns (node, dist) for reachable nodes — bigint dist.
    """
    spark = edges.sparkSession
    from .lineage import parquet_cutter

    cut = parquet_cutter(spark, prefix="omx-sssp-")
    e = _pin(
        edges.select(
            F.col(src_col).alias("_u"),
            F.col(dst_col).alias("_v"),
            F.col(w_col).cast("long").alias("_w"),
        )
    )
    dist = spark.createDataFrame([(source, 0)], "node long, dist long")
    frontier = dist
    for _ in range(max_rounds):
        cand = (
            frontier.join(e, frontier["node"] == e["_u"])
            .select(F.col("_v").alias("node"), (F.col("dist") + F.col("_w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        merged = dist.join(cand, "node", "full_outer").select(
            "node",
            F.least(F.col("dist"), F.col("d")).alias("dist"),
            (
                F.col("dist").isNull()
                | (F.col("d").isNotNull() & (F.col("d") < F.col("dist")))
            ).alias("_improved"),
        )
        # one lineage cut per round: dist AND frontier both derive from
        # the fresh scan, so the plan is O(1) in rounds (see lineage.py)
        merged = cut(merged)
        frontier = merged.where("_improved").select("node", "dist")
        dist = merged.select("node", "dist")
        if frontier.count() == 0:
            break
    e.unpersist()
    return dist


def community_quality(
    edges: DataFrame,
    labels: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Per-community modularity contribution + conductance for a given
    node→community assignment (e.g. ``label_propagation`` output) —
    the quality report a KG pipeline records after every community /
    canonicalization pass (Newman 2006 modularity; conductance = cut /
    min(vol, 2m−vol)).

    Exact integer arithmetic throughout so any engine reproduces the
    micro values bit-for-bit: with m undirected edges, community
    internal-edge count in_c and degree volume deg_c,

      modularity_micro  = round(in_c·1e6 / m) − round(deg_c²·250000 / m²)
      conductance_micro = round(cut_c·1e6 / max(min(deg_c, 2m−deg_c), 1))

    (two single divisions with integer numerators ≤ ~2.5e15 — exactly
    representable — instead of one 4·m²·1e6-scale division that would
    overflow bigint on 10^5-edge graphs).

    Scale: one distinct on edges, one degree agg, two label-lookup
    joins keyed by node, one groupBy(label); the scalar m rides along
    as a broadcast one-row cross join (never a driver collect).
    Output: (label, n_nodes, in_edges, deg_sum, cut_edges,
    modularity_micro, conductance_micro).
    """
    und = _pin(
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(F.least("_a", "_b").alias("_a"), F.greatest("_a", "_b").alias("_b"))
        .distinct()
    )
    both = und.union(und.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    deg = both.groupBy(F.col("_a").alias(node_col)).agg(
        F.count("*").cast("long").alias("_deg")
    )
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_lab")
    )
    m_row = und.agg(F.count("*").cast("long").alias("_m"))

    tagged = und.join(
        lab.select(F.col("_n").alias("_a"), F.col("_lab").alias("_la")), "_a"
    ).join(lab.select(F.col("_n").alias("_b"), F.col("_lab").alias("_lb")), "_b")
    in_c = (
        tagged.where(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias(label_col))
        .agg(F.count("*").cast("long").alias("in_edges"))
    )
    per_node = lab.join(deg, lab["_n"] == deg[node_col]).select(
        F.col("_lab").alias(label_col), "_deg"
    )
    vol = per_node.groupBy(label_col).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("_deg").cast("long").alias("deg_sum"),
    )
    out = (
        vol.join(in_c, label_col, "left")
        .na.fill({"in_edges": 0})
        .crossJoin(F.broadcast(m_row))
    )
    cut = (F.col("deg_sum") - 2 * F.col("in_edges")).cast("long")
    denom = F.greatest(
        F.least(F.col("deg_sum"), 2 * F.col("_m") - F.col("deg_sum")), F.lit(1)
    )
    return out.select(
        label_col,
        "n_nodes",
        "in_edges",
        "deg_sum",
        cut.alias("cut_edges"),
        (
            F.round(F.col("in_edges") * F.lit(1_000_000) / F.col("_m"))
            - F.round(
                F.col("deg_sum") * F.col("deg_sum") * F.lit(250_000)
                / (F.col("_m") * F.col("_m"))
            )
        )
        .cast("bigint")
        .alias("modularity_micro"),
        F.round(cut * F.lit(1_000_000) / denom)
        .cast("bigint")
        .alias("conductance_micro"),
    )


def bipartite_cooccurrence(
    df: DataFrame,
    user_col,
    item_col,
    min_common: int = 1,
) -> DataFrame:
    """Item-item co-engagement projection of a user↔item bipartite set:
    for every unordered item pair, the number of users engaging BOTH and
    the cosine-normalized strength n_uv/sqrt(n_u·n_v) — the
    collaborative-filtering edge weight, and the engagement analogue of
    the co-mention edges the KG extracts from text windows
    (pipeline/comention.py): same projection shape, different evidence.

    The self-join is keyed by USER over the distinct (user, item) set,
    so a user with k items emits k² pair rows — bounded by the item
    dimension squared per user, never by the corpus.  Degrees broadcast
    back; the cosine is sqrt of an exact int64 product, one fixed-order
    double expression.

    Output per pair (item_a < item_b): item_a, item_b, n_a, n_b,
    n_common, cosine_micro.
    """
    u = user_col if not isinstance(user_col, str) else F.col(user_col)
    it = item_col if not isinstance(item_col, str) else F.col(item_col)
    ui = df.select(u.alias("_u"), it.alias("_i")).distinct()
    deg = ui.groupBy("_i").agg(F.count("*").cast("long").alias("_n"))
    a = ui.select("_u", F.col("_i").alias("item_a"))
    b = ui.select("_u", F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_u")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("n_common"))
        .where(F.col("n_common") >= int(min_common))
    )
    da = deg.select(F.col("_i").alias("item_a"), F.col("_n").alias("n_a"))
    db = deg.select(F.col("_i").alias("item_b"), F.col("_n").alias("n_b"))
    joined = pairs.join(F.broadcast(da), "item_a").join(
        F.broadcast(db), "item_b"
    )
    return joined.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            * F.lit(1_000_000)
            / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
        )
        .cast("long")
        .alias("cosine_micro"),
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
) -> DataFrame:
    """Degree assortativity of a bipartite (or directed) edge list: the
    Pearson correlation, ACROSS EDGES, between the source endpoint's
    out-degree and the destination endpoint's in-degree — the one-number
    answer to "do high-activity nodes attach to high-activity nodes?"
    (r > 0) or to the long tail (r < 0, the hub-and-spoke signature
    that predicts join skew).

    Shape: two degree aggregates + two key joins put (deg_src, deg_dst)
    on every edge, then ONE moment aggregate; degrees and the five
    moment sums stay int64 (bounds: deg ≤ 2^21 and |E| ≤ 2^21 keep
    Σ(dx·dy) < 2^63; beyond that pre-scale degrees).  The terminal
    Pearson is evaluated in double with every int64 operand < 2^53
    (exactly representable) and a FIXED op order, so both engines
    round identically (qb13 discipline).

    Output one row: (n_edges, n_src_nodes, n_dst_nodes,
    assortativity_micro) — micro is null when a side has constant
    degree (zero variance).
    """
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct()
    ds = e.groupBy("_s").agg(F.count("*").cast("long").alias("_dx"))
    dd = e.groupBy("_d").agg(F.count("*").cast("long").alias("_dy"))
    j = e.join(ds, "_s").join(dd, "_d")
    mom = j.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("_dx").cast("long").alias("sx"),
        F.sum("_dy").cast("long").alias("sy"),
        F.sum(F.col("_dx") * F.col("_dy")).cast("long").alias("sxy"),
        F.sum(F.col("_dx") * F.col("_dx")).cast("long").alias("sxx"),
        F.sum(F.col("_dy") * F.col("_dy")).cast("long").alias("syy"),
        F.countDistinct("_s").cast("long").alias("n_src_nodes"),
        F.countDistinct("_d").cast("long").alias("n_dst_nodes"),
    )
    num = F.col("m").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    varx = F.col("m").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    vary = F.col("m").cast("double") * F.col("syy").cast("double") - F.col(
        "sy"
    ).cast("double") * F.col("sy").cast("double")
    den = F.sqrt(varx) * F.sqrt(vary)
    return mom.select(
        F.col("m").alias("n_edges"),
        "n_src_nodes",
        "n_dst_nodes",
        F.when(den > 0, F.round(num * F.lit(1e6) / den).cast("long")).alias(
            "assortativity_micro"
        ),
    )


def rich_club(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k_grid: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> DataFrame:
    """Rich-club coefficient phi(k) = density of the subgraph induced
    by nodes of degree > k, for a fixed degree grid — "do the hubs
    preferentially talk to each other", the hub-wiring diagnostic next
    to qa31/qb49's assortativity (assortativity is one number; the
    rich-club CURVE localizes where mixing turns elitist).

    Undirected dedup (least/greatest), one degree table, then per grid
    value one filtered count of surviving nodes and edges — the grid
    is a broadcast dimension, edges are scanned once per k only in
    plan form (Catalyst collapses the grid join into one pass over the
    joined table).  phi is a single micro-rounded division
    2e_k / (n_k (n_k - 1)); clubs with fewer than 2 nodes report null.

    Output per k: (k, n_nodes, n_edges, phi_micro).
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .where(F.col("_a") != F.col("_b"))
        .distinct()
    )
    deg = (
        und.select(F.col("_a").alias("_n"))
        .unionAll(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").cast("long").alias("_deg"))
    )
    spark = edges.sparkSession
    grid = spark.createDataFrame(
        [(int(k),) for k in k_grid], "k long"
    )
    nodes_k = (
        deg.crossJoin(F.broadcast(grid))
        .where(F.col("_deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    da = deg.select(F.col("_n").alias("_na"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("_n").alias("_nb"), F.col("_deg").alias("_db"))
    ed = (
        und.join(da, F.col("_a") == F.col("_na"))
        .join(db, F.col("_b") == F.col("_nb"))
        .crossJoin(F.broadcast(grid))
        .where((F.col("_da") > F.col("k")) & (F.col("_db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    out = (
        grid.join(nodes_k, "k", "left")
        .join(ed, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_nodes"), F.lit(0))
            .cast("long")
            .alias("n_nodes"),
            F.coalesce(F.col("n_edges"), F.lit(0))
            .cast("long")
            .alias("n_edges"),
        )
    )
    return out.withColumn(
        "phi_micro",
        F.when(
            F.col("n_nodes") >= 2,
            F.round(
                F.lit(2_000_000)
                * F.col("n_edges")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1))
            ).cast("long"),
        ),
    ).orderBy("k")


def personalized_pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    n_seeds: int = 5,
    iterations: int = 3,
    damping_pct: int = 85,
    top_k: int = 20,
) -> DataFrame:
    """Personalized PageRank from a deterministic seed set — the
    "entities related to THESE entities" expansion score (retrieval /
    KG neighborhood ranking), vs pagerank_micro's global importance:
    the restart mass goes to the seeds only, so rank localizes around
    them.

    Seeds are the n_seeds nodes with the highest total incident
    weight (ties broken by node id, TakeOrdered — never a global
    row sort).  Same exact integer fixed-point as pagerank_micro:
    rank0 = 1e6 div n_seeds on seeds, 0 elsewhere; contrib(e) =
    (rank(src)·w) div W_out(src); rank'(v) = [jump div n_seeds if
    seed] + (damping·Σcontrib) div 100, all bigint.  Output is the
    top_k by (rank desc, node) — orderBy+limit plans as
    TakeOrderedAndProject.

    Output: (node, ppr_micro, is_seed).
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"), w.alias("_w")
    )
    e = e.groupBy("_src", "_dst").agg(F.sum("_w").alias("_w"))
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    e = _pin(e.join(out_w, "_src"))
    nodes = _pin(
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    wsum = (
        e.select(F.col("_src").alias("node"), "_w")
        .union(e.select(F.col("_dst").alias("node"), "_w"))
        .groupBy("node")
        .agg(F.sum("_w").cast("long").alias("_ws"))
    )
    seeds = F.broadcast(
        wsum.orderBy(F.col("_ws").desc(), F.col("node"))
        .limit(int(n_seeds))
        .select(F.col("node").alias("_seed"))
    )
    jump_each = ((100 - damping_pct) * 10_000) // int(n_seeds)
    init_each = 1_000_000 // int(n_seeds)
    tagged = _pin(
        nodes.join(seeds, nodes["node"] == seeds["_seed"], "left").select(
            "node", F.col("_seed").isNotNull().alias("is_seed")
        )
    )
    ranks = tagged.select(
        "node",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(init_each))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ppr_micro"),
    )
    for _ in range(int(iterations)):
        r = F.broadcast(ranks)
        contrib = (
            e.join(r, e["_src"] == r["node"])
            .select("_dst", F.expr("(ppr_micro * _w) div _ow").alias("_c"))
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_m"))
        )
        ranks = tagged.join(
            contrib, tagged["node"] == contrib["_dst"], "left"
        ).select(
            "node",
            "is_seed",
            F.expr(
                f"CAST((CASE WHEN is_seed THEN {jump_each} ELSE 0 END)"
                f" + ({damping_pct} * coalesce(_m, 0)) div 100 AS BIGINT)"
            ).alias("ppr_micro"),
        )
    return ranks.orderBy(F.col("ppr_micro").desc(), F.col("node")).limit(
        int(top_k)
    )


def percolation_sweep(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    thresholds: tuple = (3, 6, 12),
) -> DataFrame:
    """Giant-component percolation curve: connected-component structure
    of the graph at increasing edge-weight thresholds — "at what noise
    floor does the co-occurrence graph fall apart", the robustness
    panel that tells you whether a community / dedup pass sits near
    the percolation cliff (tiny threshold change → giant swing).

    Per threshold: filter edges (weight ≥ t), run the engine's
    iterative CC (min-reachable label, the q64-verified path — size-
    gated local fast path for small graphs, distributed loop beyond),
    then per-component sizes.  The DuckDB oracle re-derives each
    threshold's components with an independent WITH RECURSIVE closure.

    Output, one row per threshold: (threshold, n_nodes, n_edges,
    n_components, giant_size, giant_frac_micro).
    """
    from ..pipeline.canonicalize import connected_components

    e0 = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    outs = []
    for t in thresholds:
        et = e0.where(F.col("_w") >= int(t))
        comp = connected_components(
            et, "_s", "_d", local_threshold=LOCAL_CC_THRESHOLD
        )
        sizes = comp.groupBy("component").agg(
            F.count("*").cast("long").alias("_sz")
        )
        g = sizes.groupBy().agg(
            F.count("*").cast("long").alias("n_components"),
            F.sum("_sz").cast("long").alias("n_nodes"),
            F.max("_sz").cast("long").alias("giant_size"),
        )
        ne = et.groupBy().agg(F.count("*").cast("long").alias("n_edges"))
        outs.append(
            g.crossJoin(ne).select(
                F.lit(int(t)).cast("long").alias("threshold"),
                "n_nodes",
                "n_edges",
                "n_components",
                "giant_size",
                F.round(
                    F.col("giant_size") * F.lit(1_000_000) / F.col("n_nodes")
                )
                .cast("long")
                .alias("giant_frac_micro"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def harmonic_centrality(
    edges: DataFrame,
    seeds: list[int],
    max_depth: int = 8,
    a_col: str = "src",
    b_col: str = "dst",
) -> DataFrame:
    """Harmonic closeness centrality from a fixed seed set — Σ 1/d(s,v)
    over seeds, the centrality that stays finite on DISCONNECTED graphs
    (closeness does not), evaluated by multi-source unit-weight BFS
    truncated at max_depth (the standard web-scale approximation:
    contributions past depth L are declared out of scope, like qc17's
    k-step PPR fixed point).

    Exactness: distances are integers and every reciprocal is scaled
    by lcm(1..max_depth), so h·lcm is a pure int64 sum — no rounding
    anywhere.  Scale shape: frontier BFS over (seed, node, d) state
    with ONE lineage cut per round (lineage.py parquet cutter — the
    sssp discipline; persist alone leaves an exponentially growing
    logical tree because each round references the previous state
    twice), one hash join per round, seed dimension a constant.

    Output per reached node: node, n_seeds (reaching it within L),
    h_scaled (Σ lcm/d, exact integer in 1/lcm units).
    """
    from math import gcd

    from .lineage import parquet_cutter

    lcm = 1
    for i in range(2, int(max_depth) + 1):
        lcm = lcm * i // gcd(lcm, i)
    spark = edges.sparkSession
    cut = parquet_cutter(spark, prefix="omx-harmonic-")
    e = (
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .where(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("_a"),
            F.greatest("_a", "_b").alias("_b"),
        )
        .distinct()
    )
    und = _pin(
        e.union(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
    )
    state = cut(
        und.select(F.col("_a").alias("node"))
        .distinct()
        .where(F.col("node").isin([int(s) for s in seeds]))
        .select(
            F.col("node").alias("seed"),
            "node",
            F.lit(0).cast("long").alias("d"),
        )
    )
    for r in range(1, int(max_depth) + 1):
        frontier = state.where(F.col("d") == r - 1)
        nxt = (
            frontier.join(und, frontier["node"] == und["_a"])
            .select(
                "seed",
                F.col("_b").alias("node"),
                F.lit(r).cast("long").alias("d"),
            )
            .join(state.select("seed", "node"), ["seed", "node"], "left_anti")
            .distinct()
        )
        state = cut(state.unionByName(nxt))
        if state.where(F.col("d") == r).count() == 0:
            break
    und.unpersist()
    return (
        state.where(F.col("d") > 0)
        .groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_seeds"),
            F.sum(
                F.floor(F.lit(int(lcm)).cast("long") / F.col("d")).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("h_scaled"),
        )
    )
