"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the (small) query set
against the full corpus, dot products as native `aggregate`/`zip_with`
Column expressions (JVM-side, no Python). Scale path: LSH bucketing via
random-hyperplane signs (deterministic hyperplanes derived from xxhash64 of
(dim, plane) — no RNG state), candidates only within matching buckets.

At 100 TB the corpus side stays partitioned and is scanned once; only
queries are broadcast. For corpus×corpus near-dup the LSH variant bounds
the join to bucket-mates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_cols(a, b):
    """Cosine similarity of two array<numeric> Columns (native expressions)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k corpus neighbors per query by cosine. The query side is
    broadcast (it is the small side by contract); ranking is a window over
    query_id with a deterministic tiebreak on corpus id."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    joined = corpus.crossJoin(F.broadcast(q)).withColumn(
        "cosine",
        cosine_cols(
            F.col(vec_col).cast("array<double>"), F.col("_qvec").cast("array<double>")
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplane components, md5-derived on the driver: component
    (p, i) is +1 iff the first hex nibble of md5('p:i') is even. Computed
    once in Python and embedded as literal arrays (no per-row hashing),
    and reproducible verbatim by any oracle engine."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def micro_vec_col(vec):
    """array<bigint> micro-fixed-point view of an embedding: one IEEE
    multiply + round per component — identical in every engine, so sign
    decisions downstream are exact integer arithmetic (no float-sum
    ordering sensitivity)."""
    return F.transform(
        vec.cast("array<double>"), lambda x: F.round(x * 1e6).cast("bigint")
    )


def _bucket_from_signs(mv, signs_list: list[list[int]]):
    # The whole ±1 sign matrix enters the plan as ONE nested-array literal
    # and the per-plane fold is a runtime aggregate over its rows — NOT
    # k·dim separate Literal nodes unrolled into the expression tree. At
    # 16 planes × 64 dims the unrolled form put >1000 nodes into codegen
    # and plan compile time dwarfed the actual scan below ~10^5 rows.
    # Value-identical: same left-to-right fold, same integer dot.
    planes = F.lit(signs_list).cast("array<array<bigint>>")
    return F.aggregate(
        planes,
        F.lit(0),
        lambda bucket, plane: bucket * 2
        + (
            F.aggregate(
                F.zip_with(mv, plane, lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            > 0
        ).cast("int"),
    )


def lsh_table_buckets_col(vec, dim: int, n_planes: int, n_tables: int,
                          pre_micro: bool = False):
    """array<struct<table_id,bucket>> — one bucket per LSH table; table t
    uses planes [t·n_planes, (t+1)·n_planes) of the shared md5-derived
    family. Multi-table is THE recall lever: a pair is a candidate if it
    collides in ANY table (recall 1-(1-p^k)^L vs p^k for one table).
    Pass pre_micro=True when `vec` is already a micro-fixed-point
    array<bigint> (compute it ONCE per row — the L·k plane dots reuse it
    instead of re-deriving it per plane)."""
    mv = vec if pre_micro else micro_vec_col(vec)
    all_signs = plane_signs(n_planes * n_tables, dim)
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"),
                _bucket_from_signs(
                    mv, all_signs[t * n_planes : (t + 1) * n_planes]
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )


def cosine_micro_col(a, b):
    """round(cosine × 1e6) as bigint — the exact-hash-comparable ranking
    key used by every top-k operator here (same convention as q29)."""
    return F.round(cosine_cols(a, b) * 1e6).cast("bigint")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat approximate top-k.

    Coarse quantizer: `n_centroids` centroids picked DETERMINISTICALLY as
    the corpus vectors with the smallest xxhash64(id) (a seeded random
    sample without RNG state — reproducible under any partitioning).
    Corpus vectors are assigned to their nearest centroid (inverted
    lists); each query probes its `nprobe` nearest lists only. At corpus
    scale the scored set shrinks by ~n_centroids/nprobe versus
    brute-force while the centroid table stays broadcast-sized.
    """
    # stable centroid ids: rank by the md5 hash that selected them (string
    # min — portable to any engine, unlike xxhash64)
    cent = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .select(
            F.row_number()
            .over(Window.orderBy("_h"))
            .alias("centroid_id"),
            F.col(vec_col).alias("_cvec"),
        )
    )
    cent_b = F.broadcast(cent)

    def nearest(df: DataFrame, key: str, vec: str, n: int, out: str) -> DataFrame:
        scored = df.crossJoin(cent_b).withColumn(
            "_csim",
            cosine_micro_col(
                F.col(vec).cast("array<double>"), F.col("_cvec").cast("array<double>")
            ),
        )
        w = Window.partitionBy(key).orderBy(
            F.col("_csim").desc(), F.col("centroid_id")
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= n)
            .select(*df.columns, F.col("centroid_id").alias(out))
        )

    assigned = nearest(corpus.select(id_col, vec_col), id_col, vec_col, 1, "list_id")
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    probes = nearest(q, query_id_col, "_qvec", nprobe, "list_id")

    # each corpus vector lives in exactly one list, so the probe join can
    # never duplicate a (query, vec) pair — no dedup needed
    joined = assigned.join(F.broadcast(probes), "list_id").withColumn(
        "cosine_micro",
        cosine_micro_col(
            F.col(vec_col).cast("array<double>"), F.col("_qvec").cast("array<double>")
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_micro").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_micro", "rank")
    )


def exact_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
    allow_large: bool = False,
) -> DataFrame:
    """Exact all-pairs cosine near-dup (id_a, id_b, cosine_micro ≥ thr).

    This is the ORACLE/baseline form: the a.id < b.id join is O(N²) and
    must never run on a production corpus — the guard refuses above
    `max_rows` (cheap: a limit(N+1).count()) unless `allow_large=True` is
    passed explicitly. Scale paths: lsh_bucketed_topk / ivf_topk /
    minhash_band_pairs.
    """
    if not allow_large:
        n = corpus.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"exact_neardup_pairs is O(N²) and corpus has >{max_rows} "
                "rows; use lsh_bucketed_topk/ivf_topk, or pass "
                "allow_large=True if you really mean it"
            )
    e = corpus.select(F.col(id_col), F.col(vec_col))
    # the `<` theta-join plans as a broadcast nested-loop whose
    # parallelism is the STREAMED side's scan — a small parquet file
    # reads as ONE partition and all N²/2 cosines run single-task (the
    # qa46/qc66 class; measured 62.6 s for 2M pairs at sf0.1).  An
    # explicit-numPartitions repartition is AQE-exempt and spreads the
    # pair production.
    a = e.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    ).alias("a")
    b = e.alias("b")
    cos = cosine_cols(
        F.col(f"a.{vec_col}").cast("array<double>"),
        F.col(f"b.{vec_col}").cast("array<double>"),
    )
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .where(cos >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos * 1e6).cast("bigint").alias("cosine_micro"),
        )
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: cosine ranking restricted to LSH bucket-mates.

    Equi-join on (table, bucket) replaces the cross join — at corpus scale
    this is the difference between O(N·Q) and O(N·Q·L/2^planes). Recall is
    tuned by n_planes (fewer → bigger buckets) and n_tables (more tables →
    more chances to collide: 1-(1-p^k)^L); candidates that collide in
    several tables are deduped BEFORE scoring so each pair is scored once.

    `multi_probe` (Lv et al., VLDB'07 'Multi-Probe LSH'): additionally
    probe, per table, the buckets whose id differs from the query's in
    exactly one of the first `multi_probe` bits — the buckets a near
    neighbor most likely fell into when one hyperplane sign flipped.
    Each probe multiplies only the QUERY side of the join (corpus rows
    are indexed once), so recall rises like adding tables at a fraction
    of the memory/build cost: probes cost (1+multi_probe)·|Q| extra join
    rows, tables cost |N| extra indexed rows each. Deterministic (probe
    set = bucket XOR 2^j), so the DuckDB oracle reproduces it verbatim.
    """
    if not 0 <= multi_probe <= n_planes:
        raise ValueError(f"multi_probe must be in [0, n_planes], got {multi_probe}")
    cb = (
        corpus.select(
            F.col(id_col), F.col(vec_col),
            micro_vec_col(F.col(vec_col)).alias("_mv"),
        )
        .select(
            id_col, vec_col,
            F.explode(
                lsh_table_buckets_col(
                    F.col("_mv"), dim, n_planes, n_tables, pre_micro=True
                )
            ).alias("_tb"),
        )
        .select(id_col, vec_col, "_tb.table_id", "_tb.bucket")
    )
    qb = (
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec"),
            micro_vec_col(F.col(vec_col)).alias("_mv"),
        )
        .select(
            query_id_col, "_qvec",
            F.explode(
                lsh_table_buckets_col(
                    F.col("_mv"), dim, n_planes, n_tables, pre_micro=True
                )
            ).alias("_tb"),
        )
        .select(query_id_col, "_qvec", "_tb.table_id", "_tb.bucket")
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"),
            *[F.expr(f"cast(bucket ^ {1 << j} as int)") for j in range(multi_probe)],
        )
        qb = qb.select(
            query_id_col, "_qvec", "table_id",
            F.explode(probes).alias("bucket"),
        )
    # duplicate candidates (pairs colliding in >1 table) are BIT-IDENTICAL
    # rows (same vectors), so this dropDuplicates has a deterministic
    # output despite the arbitrary-winner semantics the repo otherwise
    # avoids — any winner is the same row.
    cand = (
        cb.join(F.broadcast(qb), ["table_id", "bucket"])
        .select(query_id_col, id_col, vec_col, "_qvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.withColumn(
        "cosine_micro",
        cosine_micro_col(
            F.col(vec_col).cast("array<double>"), F.col("_qvec").cast("array<double>")
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_micro").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_micro", "rank")
    )


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings and removing, within each cluster, every vector
    that has a >= threshold cosine neighbor CLOSER to the cluster
    centroid (the paper's keep-the-furthest-from-centroid rule, which
    retains the least prototypical example of each duplicate group).

    Output: (vec_id, list_id, cent_sim_micro, n_similar, keep) — one row
    per input vector. `n_similar` counts same-cluster neighbors with
    cosine >= threshold; `keep` is false iff one of them dominates this
    vector (lower cent_sim_micro, ties broken by smaller id — a total
    order, so exactly one member of every mutually-similar pair loses).

    Deterministic end to end: centroids are the n_centroids corpus
    vectors with the smallest md5(id) (same coarse quantizer as
    ivf_topk/q48), assignment and similarity both rank on
    micro-fixed-point cosine with id tiebreaks — reproducible verbatim by
    the DuckDB oracle.

    Scale shape: the only quadratic piece is the WITHIN-cluster pairwise
    join, which is the SemDeDup design point — cost is sum(c_i^2) over
    cluster sizes, so n_centroids must grow ~N/target_cluster_size (the
    paper uses 50k clusters for LAION-440M; here 16 for the 500-row test
    corpus). The centroid table stays broadcast-sized either way; the
    pairwise stage is a plain shuffled self-equi-join on list_id, and the
    assignment is one broadcast-nested-loop over n_centroids rows.
    `assigned` is localCheckpointed so the self-join's two consumers read
    materialized partitions instead of re-running the quantizer twice.

    The reference has no embedding operators at all (nearest analogue:
    whole-record dedup, core/lookup.py:49-58) — this is part of the
    training-data curation extension alongside q25-q30/q47/q48/q64.
    """
    thr_micro = int(round(threshold * 1e6))
    cent = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .select(
            F.row_number().over(Window.orderBy("_h")).alias("centroid_id"),
            F.col(vec_col).alias("_cvec"),
        )
    )
    scored = corpus.select(id_col, vec_col).crossJoin(F.broadcast(cent)).withColumn(
        "_csim",
        cosine_micro_col(
            F.col(vec_col).cast("array<double>"), F.col("_cvec").cast("array<double>")
        ),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_csim").desc(), F.col("centroid_id"))
    assigned = (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id").alias("list_id"),
            F.col("_csim").alias("cent_sim_micro"),
        )
    ).localCheckpoint(eager=True)

    a, b = assigned.alias("a"), assigned.alias("b")
    half = (
        a.join(
            b,
            (F.col(f"a.list_id") == F.col(f"b.list_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .withColumn(
            "_sim",
            cosine_micro_col(
                F.col(f"a.{vec_col}").cast("array<double>"),
                F.col(f"b.{vec_col}").cast("array<double>"),
            ),
        )
        .where(F.col("_sim") >= thr_micro)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col("a.cent_sim_micro").alias("cs_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("b.cent_sim_micro").alias("cs_b"),
        )
    )
    directed = half.select(
        F.col("id_a").alias("me"), F.col("cs_a").alias("cs_me"),
        F.col("id_b").alias("other"), F.col("cs_b").alias("cs_other"),
    ).unionByName(
        half.select(
            F.col("id_b").alias("me"), F.col("cs_b").alias("cs_me"),
            F.col("id_a").alias("other"), F.col("cs_a").alias("cs_other"),
        )
    )
    dom = directed.groupBy("me").agg(
        F.count("*").alias("n_similar"),
        F.max(
            (
                (F.col("cs_other") < F.col("cs_me"))
                | ((F.col("cs_other") == F.col("cs_me")) & (F.col("other") < F.col("me")))
            ).cast("int")
        ).alias("_dominated"),
    )
    return (
        assigned.join(dom, assigned[id_col] == dom["me"], "left")
        .select(
            F.col(id_col),
            F.col("list_id").cast("int").alias("list_id"),
            F.col("cent_sim_micro"),
            F.coalesce("n_similar", F.lit(0)).cast("long").alias("n_similar"),
            (F.coalesce("_dominated", F.lit(0)) == 0).alias("keep"),
        )
    )


def centroid_drift(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding-centroid drift: cosine of each group's mean
    vector against the corpus mean vector — the cheap "did this source's
    embedding distribution move?" monitor a curation pipeline runs per
    ingest batch (a label whose centroid swings away from the corpus is
    the first sign of a scraper change or domain shift).

    Exactness: raw floats are quantized ONCE per element to micro ints
    (round(x*1e6), float->double cast is exact), so per-dim sums are
    exact integers; each centroid coordinate is one integer division
    (round(sum/n), micro units, so coordinates stay ~1e6 REGARDLESS of
    group size — the bigint dot products below are safe at any corpus
    scale); dot and norms are exact integer sums over the fixed dim
    count; cos_micro is one deterministic double expression over exact
    bigints.

    Scale: explode-by-dim keeps the shuffle rows narrow ((label, dim,
    int) triples); per-dim aggs are map-side combined; the global
    centroid (dim-sized) is broadcast into the per-label join.

    Output: (label, n_vecs, dot, norm_l, norm_g, cos_micro).
    """
    ex = emb.select(
        F.col(label_col).alias("_lbl"),
        F.posexplode(F.col(vec_col)).alias("_i", "_x"),
    ).select(
        "_lbl",
        "_i",
        F.round(F.col("_x").cast("double") * 1e6).cast("long").alias("_e"),
    )
    cl = (
        ex.groupBy("_lbl", "_i")
        .agg(F.sum("_e").alias("_s"), F.count("*").alias("_n"))
        .select(
            "_lbl",
            "_i",
            F.round(F.col("_s").cast("double") / F.col("_n"))
            .cast("long")
            .alias("_c"),
        )
    )
    cg = (
        ex.groupBy("_i")
        .agg(F.sum("_e").alias("_s"), F.count("*").alias("_n"))
        .select(
            "_i",
            F.round(F.col("_s").cast("double") / F.col("_n"))
            .cast("long")
            .alias("_g"),
        )
    )
    m = (
        cl.join(F.broadcast(cg), "_i")
        .groupBy("_lbl")
        .agg(
            F.sum(F.col("_c") * F.col("_g")).cast("long").alias("dot"),
            F.sum(F.col("_c") * F.col("_c")).cast("long").alias("norm_l"),
            F.sum(F.col("_g") * F.col("_g")).cast("long").alias("norm_g"),
        )
    )
    nv = emb.groupBy(F.col(label_col).alias("_lbl")).agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    return (
        m.join(nv, "_lbl")
        .select(
            F.col("_lbl").alias(label_col),
            "n_vecs",
            "dot",
            "norm_l",
            "norm_g",
            F.round(
                F.col("dot").cast("double")
                * 1e6
                / (
                    F.sqrt(F.col("norm_l").cast("double"))
                    * F.sqrt(F.col("norm_g").cast("double"))
                )
            )
            .cast("long")
            .alias("cos_micro"),
        )
    )


def ivf_hard_negatives(
    corpus: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    ceiling_micro: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    every vector, the top-k most-similar vectors that carry a DIFFERENT
    label, excluding anything above ``ceiling_micro`` cosine (a
    too-similar pair is more likely a labeling error / near-dup than a
    useful negative — the standard false-negative guard).

    Scale architecture, not brute force: candidates come from the same
    deterministic IVF coarse quantizer as ``ivf_topk`` (md5-ranked
    centroids, broadcast; each vector probes its ``nprobe`` nearest
    inverted lists), so the scored set shrinks ~n_centroids/nprobe
    versus all-pairs while staying bit-reproducible.  Rescoring is the
    exact micro-fixed-point cosine; ranking has a total order
    (cosine desc, id).

    Output: (query_id, vec_id, query_label, neg_label, cosine_micro,
    rank).
    """
    cent = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(n_centroids)
        .select(
            F.row_number().over(Window.orderBy("_h")).alias("centroid_id"),
            F.col(vec_col).alias("_cvec"),
        )
    )
    cent_b = F.broadcast(cent)

    def nearest(df: DataFrame, key: str, vec: str, n: int) -> DataFrame:
        # repartition by the key BEFORE the centroid crossJoin: a small
        # parquet corpus scans as ONE partition, and the |df|·n_centroids
        # cosine fan-out would run single-task on it; keying by `key`
        # also feeds the argmin window its clustering for free.
        scored = (
            df.repartition(
                df.sparkSession.sparkContext.defaultParallelism, key
            )
            .crossJoin(cent_b)
            .withColumn(
                "_csim",
                cosine_micro_col(
                    F.col(vec).cast("array<double>"),
                    F.col("_cvec").cast("array<double>"),
                ),
            )
        )
        w = Window.partitionBy(key).orderBy(F.col("_csim").desc(), F.col("centroid_id"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= n)
            .select(*df.columns, F.col("centroid_id").alias("list_id"))
        )

    assigned = nearest(corpus.select(id_col, vec_col, label_col), id_col, vec_col, 1)
    q = corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col(label_col).alias("query_label"),
    )
    probes = nearest(q, "query_id", "_qvec", nprobe)

    # Catalyst pushes EVERY deterministic post-join predicate — including
    # the ceiling filter, whose cosine references both sides — into the
    # broadcast join's bound condition, so the full rescore runs INSIDE
    # the join stage.  That stage's parallelism is the probe-side scan's
    # (a small parquet file reads as ONE partition), so the 1M cosines
    # ran on one task (jstack: ArrayAggregate inside HashJoin
    # boundCondition).  Repartitioning the streamed side BEFORE the join
    # spreads the join stage itself; a post-join repartition is too late.
    # The candidate join keys on list_id — n_centroids DISTINCT VALUES
    # (16 here), i.e. every key is hot by construction.  Left to AQE the
    # physical choice is bimodal (measured 2.4 s vs 11 s alternating at
    # sf0.1: broadcast keeps the streamed side's parallelism, a shuffle
    # join collapses to <=16 skewed tasks with the pushed-down cosine
    # inside).  Salting pins it: the big (assigned) side takes a
    # deterministic per-row salt, the probe side replicates S ways, and
    # the join runs on (list_id, salt) at 16*S-way parallelism at ANY
    # scale — the skewjoin.py hot-key discipline, output set-identical.
    S = corpus.sparkSession.sparkContext.defaultParallelism
    assigned = assigned.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(S)).cast("int")
    ).repartition(S, "list_id", "_salt")
    probes = probes.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(S - 1)).cast("array<int>")),
    )
    joined = (
        assigned.join(probes, ["list_id", "_salt"])
        .where(
            (F.col(label_col) != F.col("query_label"))
            & (F.col(id_col) != F.col("query_id"))
        )
        .withColumn(
            "cosine_micro",
            cosine_micro_col(
                F.col(vec_col).cast("array<double>"),
                F.col("_qvec").cast("array<double>"),
            ),
        )
        .where(F.col("cosine_micro") < ceiling_micro)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col(id_col)
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            id_col,
            "query_label",
            F.col(label_col).alias("neg_label"),
            "cosine_micro",
            "rank",
        )
    )


def scalar_quant_report(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Per-dimension int8 scalar-quantization report: global min/max per
    dimension, quantize q = round((x−min)·levels/width), reconstruct,
    and aggregate the absolute reconstruction error — the feasibility
    check before shrinking a 100 TB float32 embedding store 4× (and the
    per-dim table IS the codebook the quantizer ships).

    Everything happens in integer micro space: components are
    micro-fixed-pointed first, so quantize/reconstruct are integer-
    numerator single divisions — bit-identical in any engine, immune to
    float-sum ordering.  Plan: one posexplode, one per-dim agg (64
    groups), broadcast join back, one final per-dim agg.

    Output: (dim, n_rows, min_micro, max_micro, sum_abs_err_micro,
    max_abs_err_micro, mean_abs_err_micro).
    """
    elems = corpus.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "_x"),
    ).select("_id", "dim", F.round(F.col("_x") * 1e6).cast("long").alias("_xm"))
    rng = elems.groupBy("dim").agg(
        F.min("_xm").alias("_mn"), F.max("_xm").alias("_mx")
    )
    width = F.greatest(F.col("_mx") - F.col("_mn"), F.lit(1))
    quant = elems.join(F.broadcast(rng), "dim").select(
        "dim",
        "_xm",
        "_mn",
        "_mx",
        F.round((F.col("_xm") - F.col("_mn")) * levels / width)
        .cast("long")
        .alias("_q"),
    )
    err = quant.select(
        "dim",
        "_mn",
        "_mx",
        F.abs(
            F.col("_xm")
            - (
                F.col("_mn")
                + F.round(F.col("_q") * (F.greatest(F.col("_mx") - F.col("_mn"), F.lit(1))) / levels).cast("long")
            )
        ).alias("_err"),
    )
    return err.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("_mn").cast("long").alias("min_micro"),
        F.max("_mx").cast("long").alias("max_micro"),
        F.sum("_err").cast("long").alias("sum_abs_err_micro"),
        F.max("_err").cast("long").alias("max_abs_err_micro"),
        F.round(F.sum("_err") / F.count("*")).cast("long").alias("mean_abs_err_micro"),
    )


def jl_distortion_report(
    pairs: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    id_a: str = "id_a",
    vec_a: str = "vec_a",
    id_b: str = "id_b",
    vec_b: str = "vec_b",
) -> DataFrame:
    """Johnson–Lindenstrauss ±1 random-projection distortion audit: for
    each vector pair, squared L2 distance in the original space vs in
    the ``n_planes``-dim projection (same md5-derived ±1 matrix as the
    LSH family — ``plane_signs``), and the ratio d²_proj/(n_planes·d²)
    whose expectation is 1 under the JL lemma.  This is the check run
    before shipping a projection-compressed 100 TB embedding store.

    Exact integer path: components micro-fixed-pointed, projections are
    integer ±1 dots (one nested-array literal + fold, not k·dim Literal
    nodes), both squared distances are integer sums; only the final
    ratio is one double division (numerators can exceed 2^53, so both
    engines cast the SAME bigint to double first — identical IEEE).

    Output: (id_a, id_b, d2_orig, d2_proj, ratio_micro).
    """
    signs = plane_signs(n_planes, dim)
    planes = F.lit(signs).cast("array<array<bigint>>")

    def proj(mv):
        return F.transform(
            planes,
            lambda row: F.aggregate(
                F.zip_with(row, mv, lambda s, x: s * x),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ),
        )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    mv = pairs.select(
        F.col(id_a),
        F.col(id_b),
        micro_vec_col(F.col(vec_a)).alias("_ma"),
        micro_vec_col(F.col(vec_b)).alias("_mb"),
    )
    pj = mv.select(
        id_a,
        id_b,
        d2(F.col("_ma"), F.col("_mb")).alias("d2_orig"),
        d2(proj(F.col("_ma")), proj(F.col("_mb"))).alias("d2_proj"),
    )
    return pj.select(
        id_a,
        id_b,
        "d2_orig",
        "d2_proj",
        F.round(
            F.col("d2_proj").cast("double")
            * 1e6
            / (F.lit(n_planes) * F.greatest(F.col("d2_orig"), F.lit(1))).cast(
                "double"
            )
        )
        .cast("bigint")
        .alias("ratio_micro"),
    )


def pq_codebook_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    n_codes: int = 8,
    sub_dim: int = 16,
) -> DataFrame:
    """Product-quantization audit (Jégou et al. 2011): split the vector
    into `n_subspaces` contiguous `sub_dim`-dim slices, quantize each
    slice against a per-subspace codebook, and report per-(subspace,
    code) population and distortion — the memory-budget planning step
    for PQ-compressed ANN at 100 TB (codes cost n_subspaces bytes/vec
    vs 4·dim for floats; the report says what that buys in distortion
    and whether codes are balanced).

    Codebooks are the md5-rank-first `n_codes` vectors' slices (the
    deterministic q48 IVF seeding trick), broadcast; assignment is an
    argmin window over integer micro squared distances (micro-int
    slices — zero float summation), tiebreak on code.  ONE pass over
    the data after the seed scan; everything downstream of the explode
    is (subspace, code)-sized.

    Output per (subspace, code): n_assigned, sum_sq_dist (micro²
    int64), mean_sq_dist, share_micro (population share within the
    subspace; 1e6/n_codes everywhere = perfectly balanced codes).
    """
    from .clustering import micro_vectors

    mv = micro_vectors(df.select(F.col(id_col), F.col(vec_col)), id_col, vec_col)
    slices = F.array(
        *[
            F.slice(F.col("ev"), s * sub_dim + 1, sub_dim)
            for s in range(n_subspaces)
        ]
    )
    # own pre-Generate projection (q63 trap): build the slice array in a
    # separate select so the explode doesn't re-evaluate micro_vectors'
    # transform per output row.
    sliced = mv.select(F.col(id_col), slices.alias("_sl")).select(
        F.col(id_col), F.posexplode("_sl").alias("subspace", "_sv")
    )
    # deterministic code numbering: md5 rank with id tiebreak (the q48
    # IVF seeding trick).  orderBy().limit() plans as
    # TakeOrderedAndProject — per-partition top-n, never a global sort;
    # the window that numbers the codes runs on the n_codes survivors.
    seeds = (
        mv.select(
            "ev",
            F.md5(F.col(id_col).cast("string")).alias("_h"),
            F.col(id_col).alias("_sid"),
        )
        .orderBy("_h", "_sid")
        .limit(n_codes)
        .withColumn(
            "code",
            F.row_number()
            .over(Window.orderBy(F.col("_h"), F.col("_sid")))
            .cast("int"),
        )
    )
    cb = seeds.select(
        "code",
        F.array(
            *[
                F.slice(F.col("ev"), s * sub_dim + 1, sub_dim)
                for s in range(n_subspaces)
            ]
        ).alias("_csl"),
    ).select("code", F.posexplode("_csl").alias("subspace", "_cv"))
    dist = F.aggregate(
        F.zip_with(F.col("_sv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = sliced.join(F.broadcast(cb), "subspace").select(
        F.col(id_col), "subspace", "code", dist.alias("_d")
    )
    wmin = Window.partitionBy(id_col, "subspace").orderBy(
        F.col("_d"), F.col("code")
    )
    assigned = cand.withColumn("_rn", F.row_number().over(wmin)).where(
        F.col("_rn") == 1
    )
    per = assigned.groupBy("subspace", "code").agg(
        F.count("*").cast("long").alias("n_assigned"),
        F.sum("_d").cast("long").alias("sum_sq_dist"),
    )
    wss = Window.partitionBy("subspace")
    return per.select(
        F.col("subspace").cast("long").alias("subspace"),
        "code",
        "n_assigned",
        "sum_sq_dist",
        F.round(F.col("sum_sq_dist").cast("double") / F.col("n_assigned"))
        .cast("long")
        .alias("mean_sq_dist"),
        F.round(
            F.col("n_assigned") * F.lit(1_000_000) / F.sum("n_assigned").over(wss)
        )
        .cast("long")
        .alias("share_micro"),
    )


def embedding_drift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Embedding-space drift monitor: per group, the cosine between the
    centroids of two deterministic halves (id parity) — the cheap "did
    the embedding distribution move" check run per snapshot pair; a
    healthy stationary group sits at cosine ~1, drift (or a tiny
    group's noise) pulls it down.

    Exactness: per-(group, half, dim) component sums of the
    micro-scaled components are exact int64; each centroid component is
    the TRUNCATING division sum div count (a deterministic
    micro-precision centroid — scale does not cancel between differently
    sized halves, so the division is part of the spec); dot and the two
    quadratic sums over the 64 micro-scale components stay int64
    (64·1e12 << 2^63), and the terminal cosine is one fixed-order
    double expression.  Dims explode via posexplode — 64 rows per
    vector, one hash aggregate, no per-row Python.

    Output per group: (group, n_a, n_b, centroid_cosine_micro,
    drift_micro = 1e6 − cosine).
    """
    comp = df.select(
        F.col(group_col).alias("_g"),
        (F.col(id_col) % 2).alias("_half"),
        F.posexplode(F.col(vec_col)).alias("_d", "_x"),
    ).select(
        "_g",
        "_half",
        "_d",
        F.round(F.col("_x").cast("double") * 1e6).cast("long").alias("_xm"),
    )
    sums = comp.groupBy("_g", "_half", "_d").agg(
        F.sum("_xm").alias("_s"),
    )
    ns = (
        df.select(
            F.col(group_col).alias("_g"), (F.col(id_col) % 2).alias("_half")
        )
        .groupBy("_g", "_half")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    cent = sums.join(F.broadcast(ns), ["_g", "_half"]).select(
        "_g", "_half", "_d", F.expr("_s div _n").alias("_c"), "_n"
    )
    a = cent.where(F.col("_half") == 0).select(
        "_g", "_d", F.col("_c").alias("_ca"), F.col("_n").alias("n_a")
    )
    b = cent.where(F.col("_half") == 1).select(
        "_g", "_d", F.col("_c").alias("_cb"), F.col("_n").alias("n_b")
    )
    mom = (
        a.join(b, ["_g", "_d"])
        .groupBy("_g")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("_dot"),
            F.sum(F.col("_ca") * F.col("_ca")).cast("long").alias("_qa"),
            F.sum(F.col("_cb") * F.col("_cb")).cast("long").alias("_qb"),
        )
    )
    cos = F.round(
        F.col("_dot").cast("double")
        * F.lit(1e6)
        / (
            F.sqrt(F.col("_qa").cast("double"))
            * F.sqrt(F.col("_qb").cast("double"))
        )
    ).cast("long")
    return mom.select(
        F.col("_g").alias(group_col),
        "n_a",
        "n_b",
        F.when((F.col("_qa") > 0) & (F.col("_qb") > 0), cos).alias(
            "centroid_cosine_micro"
        ),
        F.when(
            (F.col("_qa") > 0) & (F.col("_qb") > 0), F.lit(1_000_000) - cos
        ).alias("drift_micro"),
    )


def mutual_best_pairs(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 20_000,
    allow_large: bool = False,
) -> DataFrame:
    """Reciprocal best-match alignment between two vector sets: pairs
    (a, b) where b is a's cosine top-1 in B AND a is b's top-1 in A —
    the standard entity-alignment / bitext-mining primitive (mutual
    nearest neighbors are high-precision matches; one-directional
    top-1s are not).

    This is the EXACT O(|A|·|B|) audit form, size-guarded like
    exact_neardup_pairs; at corpus scale generate each direction's
    shortlist with the IVF/LSH index (`ivf_topk`, `lsh_topk`) and feed
    the same reciprocal join.  Scores are micro-rounded before ranking
    (q29 discipline) so both directions and any engine rank
    identically; ranks are windows partitioned per query id.  The
    streamed side is repartitioned BEFORE the broadcast join (the qa46
    one-partition-scan lesson).

    Output: (id_a, id_b, cosine_micro), id-ordered pairs.
    """
    if not allow_large:
        for side, name in ((a, "A"), (b, "B")):
            if side.limit(max_rows + 1).count() > max_rows:
                raise ValueError(
                    f"mutual_best_pairs is O(|A|*|B|) and side {name} has "
                    f">{max_rows} rows; use an ANN shortlist "
                    "(ivf_topk/lsh_topk) or pass allow_large=True"
                )
    spark = a.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    av = a.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va")
    ).repartition(nparts, "_ida")
    bv = b.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb")
    )
    scored = av.join(F.broadcast(bv)).select(
        "_ida",
        "_idb",
        F.round(
            cosine_cols(
                F.col("_va").cast("array<double>"),
                F.col("_vb").cast("array<double>"),
            )
            * 1e6
        )
        .cast("long")
        .alias("cosine_micro"),
    )
    wa = Window.partitionBy("_ida").orderBy(
        F.col("cosine_micro").desc(), F.col("_idb")
    )
    wb = Window.partitionBy("_idb").orderBy(
        F.col("cosine_micro").desc(), F.col("_ida")
    )
    top_ab = (
        scored.withColumn("_r", F.row_number().over(wa))
        .where(F.col("_r") == 1)
        .drop("_r")
    )
    top_ba = (
        scored.withColumn("_r", F.row_number().over(wb))
        .where(F.col("_r") == 1)
        .select(
            F.col("_ida").alias("_ida2"), F.col("_idb").alias("_idb2")
        )
    )
    return top_ab.join(
        top_ba,
        (F.col("_ida") == F.col("_ida2"))
        & (F.col("_idb") == F.col("_idb2")),
    ).select(
        F.col("_ida").alias("id_a"),
        F.col("_idb").alias("id_b"),
        "cosine_micro",
    )


def intra_list_diversity(
    topk: DataFrame,
    corpus: DataFrame,
    query_col: str = "query_id",
    item_col: str = "vec_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Intra-List Diversity of retrieved top-k sets: mean pairwise
    cosine DISTANCE among each query's results — the redundancy gauge
    next to MMR (qa77 optimizes it; this MEASURES what a ranker
    actually shipped).  A list of near-duplicates scores ~0; a spread
    list scores high.

    Input: `topk` rows (query, item) — k small by construction, so
    the within-query self-join is k(k−1)/2 pairs per query, never a
    corpus product; embeddings are equi-joined in from `corpus` by
    id.  Pair cosine is micro-rounded ONCE per pair (the q29/qc01
    integer-cosine discipline); per-query ILD is one division by the
    exact pair count; the corpus mean is one more.

    Output per query: (query, n_pairs, ild_micro) plus
    broadcast-attached mean_ild_micro.
    """
    vecs = corpus.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    t = topk.select(
        F.col(query_col).alias("_q"), F.col(item_col).alias("_i")
    )
    a = t.select("_q", F.col("_i").alias("_ia"))
    b = t.select("_q", F.col("_i").alias("_ib"))
    pairs = (
        a.join(b, "_q")
        .where(F.col("_ia") < F.col("_ib"))
        .join(vecs.select(F.col("_vid").alias("_ia"), F.col("_v").alias("_va")), "_ia")
        .join(vecs.select(F.col("_vid").alias("_ib"), F.col("_v").alias("_vb")), "_ib")
        .select(
            "_q",
            F.round(cosine_cols(F.col("_va"), F.col("_vb")) * 1e6)
            .cast("long")
            .alias("_cos"),
        )
    )
    per = pairs.groupBy("_q").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.lit(1_000_000) - F.col("_cos")).cast("long").alias("_dist"),
    )
    per = per.select(
        F.col("_q").alias(query_col),
        "n_pairs",
        F.round(F.col("_dist") / F.col("n_pairs")).cast("long").alias(
            "ild_micro"
        ),
    )
    g = per.groupBy().agg(
        F.round(F.sum("ild_micro") / F.count("*"))
        .cast("long")
        .alias("mean_ild_micro")
    )
    return per.crossJoin(F.broadcast(g))


def linear_cka(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_a_col: str = "embedding",
    vec_b_col: str = "embedding_b",
) -> DataFrame:
    """Linear CKA (Centered Kernel Alignment) between two vector views
    of the SAME items — the standard "did this transformation keep the
    representation's structure" number (Kornblith et al. 2019):
    CKA = ‖cov(X,Y)‖²_F / (‖cov(X,X)‖_F·‖cov(Y,Y)‖_F), 1 = identical
    geometry up to rotation/scale.  Here it audits e.g. dimension
    truncation or quantization of an embedding store before shipping
    it.

    Exactness discipline: components are micro ints (micro_vec_col);
    each covariance cell C_ab = N·Σx_a y_b − Σx_a·Σy_b is ONE fixed
    scalar DAG (N·Σxy exceeds int64 — cast double first, qb13),
    pinned to an integer in covariance-micro units cv = round(C/(N²·1e6));
    the three Frobenius sums Σ cv² are then INTEGER sums over the
    D_a×D_b / D_a² / D_b² cell grids (dimension-sized, never
    row-level), and CKA is one terminal scalar DAG.  The only
    row-scale work is the per-(item, dim-pair) product aggregation —
    one shuffle keyed by (a, b).

    Output (single row): (n_rows, d_a, d_b, s_xy, s_xx, s_yy,
    cka_micro).
    """
    xs = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(micro_vec_col(F.col(vec_a_col))).alias("_a", "_x"),
    )
    ys = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(micro_vec_col(F.col(vec_b_col))).alias("_b", "_y"),
    )
    nrow = df.groupBy().agg(F.count("*").cast("long").alias("_N"))
    mx = xs.groupBy("_a").agg(F.sum("_x").cast("long").alias("_sx"))
    my = ys.groupBy("_b").agg(F.sum("_y").cast("long").alias("_sy"))

    def cells(p1, k1, s1, p2, k2, s2, pair_sums):
        return (
            pair_sums.join(F.broadcast(s1), k1)
            .join(F.broadcast(s2), k2)
            .crossJoin(F.broadcast(nrow))
            .select(
                F.round(
                    (
                        F.lit(1.0) * F.col("_N") * F.col("_sxy")
                        - F.col(p1).cast("double") * F.col(p2)
                    )
                    / (F.lit(1.0) * F.col("_N") * F.col("_N") * 1000000)
                )
                .cast("long")
                .alias("_cv")
            )
        )

    pxy = (
        xs.join(ys, "_id")
        .groupBy("_a", "_b")
        .agg(F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"))
    )
    pxx = (
        xs.join(
            xs.select(
                F.col("_id"), F.col("_a").alias("_b"), F.col("_x").alias("_y")
            ),
            "_id",
        )
        .groupBy("_a", "_b")
        .agg(F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"))
    )
    pyy = (
        ys.select(F.col("_id"), F.col("_b").alias("_a"), F.col("_y").alias("_x"))
        .join(ys, "_id")
        .groupBy("_a", "_b")
        .agg(F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"))
    )
    cxy = cells("_sx", "_a", mx, "_sy", "_b", my, pxy)
    cxx = cells(
        "_sx",
        "_a",
        mx,
        "_sy",
        "_b",
        mx.select(F.col("_a").alias("_b"), F.col("_sx").alias("_sy")),
        pxx,
    )
    cyy = cells(
        "_sx",
        "_a",
        my.select(F.col("_b").alias("_a"), F.col("_sy").alias("_sx")),
        "_sy",
        "_b",
        my,
        pyy,
    )
    sxy = cxy.groupBy().agg(
        F.sum(F.col("_cv") * F.col("_cv")).cast("long").alias("s_xy")
    )
    sxx = cxx.groupBy().agg(
        F.sum(F.col("_cv") * F.col("_cv")).cast("long").alias("s_xx")
    )
    syy = cyy.groupBy().agg(
        F.sum(F.col("_cv") * F.col("_cv")).cast("long").alias("s_yy")
    )
    da = df.select(
        F.size(F.col(vec_a_col)).cast("long").alias("d_a")
    ).limit(1)
    db = df.select(
        F.size(F.col(vec_b_col)).cast("long").alias("d_b")
    ).limit(1)
    return (
        nrow.crossJoin(sxy)
        .crossJoin(sxx)
        .crossJoin(syy)
        .crossJoin(da)
        .crossJoin(db)
        .select(
            F.col("_N").alias("n_rows"),
            "d_a",
            "d_b",
            "s_xy",
            "s_xx",
            "s_yy",
            F.when(
                (F.col("s_xx") > 0) & (F.col("s_yy") > 0),
                F.round(
                    F.lit(1000000.0)
                    * F.col("s_xy")
                    / F.sqrt(
                        F.col("s_xx").cast("double") * F.col("s_yy")
                    )
                ).cast("long"),
            ).alias("cka_micro"),
        )
    )


def knn_label_consistency(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    probe_mod: int = 10,
) -> DataFrame:
    """Leave-one-out 1-NN label consistency of an embedding space —
    the classic "does geometry respect labels" audit (a space where
    nearest neighbors disagree with labels will poison every
    retrieval/dedup pass built on it), measured on the deterministic
    1-in-probe_mod probe subset (id % probe_mod == 0) so the probe ×
    corpus product stays a thin slice of the full O(N²).

    Per probe the nearest non-self neighbor under the exact
    micro-cosine total order (cos desc, id) — one window PARTITIONED
    by probe; match = label equality.  Accuracy is one micro division
    per label plus one overall.

    Output per label: (label, n_probes, n_match, acc_micro) plus
    broadcast-attached (n_probes_total, overall_acc_micro).
    """
    probes = df.where((F.col(id_col) % int(probe_mod)) == 0).select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qv"),
        F.col(label_col).alias("_ql"),
    )
    corpus = df.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        F.col(label_col).alias("_cl"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .where(F.col("_cid") != F.col("_qid"))
        .select(
            "_qid",
            "_ql",
            "_cid",
            "_cl",
            F.round(
                cosine_cols(
                    F.col("_cv").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("_cos").desc(), F.col("_cid")
    )
    nn = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "_qid",
            "_ql",
            (F.col("_cl") == F.col("_ql")).cast("long").alias("_m"),
        )
    )
    per = nn.groupBy(F.col("_ql").alias(label_col)).agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("_m").cast("long").alias("n_match"),
    )
    per = per.select(
        label_col,
        "n_probes",
        "n_match",
        F.round(F.col("n_match") * F.lit(1_000_000) / F.col("n_probes"))
        .cast("long")
        .alias("acc_micro"),
    )
    g = per.groupBy().agg(
        F.sum("n_probes").cast("long").alias("n_probes_total"),
        F.round(
            F.sum("n_match") * F.lit(1_000_000) / F.sum("n_probes")
        )
        .cast("long")
        .alias("overall_acc_micro"),
    )
    return per.crossJoin(F.broadcast(g))


def recommendation_coverage(
    topk: DataFrame,
    corpus: DataFrame,
    query_col: str = "query_id",
    item_col: str = "vec_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Catalog coverage + concentration + novelty of retrieved top-k
    sets — the aggregate-diversity triple next to per-list ILD
    (intra_list_diversity): a retriever can be diverse WITHIN lists
    yet recommend the same 50 items to everyone.  Coverage = share of
    the catalog appearing in any list; concentration = HHI of
    recommendation counts (1/HHI ≈ effective catalog size); novelty =
    mean −ln(recommendation share) of served items in micro-nats (ln
    ONCE per distinct item count — q66 discipline).

    Output (single row): (n_queries, n_slots, catalog_size,
    n_recommended, coverage_micro, rec_hhi_micro, novelty_micro).
    """
    t = topk.select(
        F.col(query_col).alias("_q"), F.col(item_col).alias("_i")
    )
    counts = t.groupBy("_i").agg(F.count("*").cast("long").alias("_c"))
    tot = t.groupBy().agg(
        F.countDistinct("_q").cast("long").alias("n_queries"),
        F.count("*").cast("long").alias("n_slots"),
    )
    cat = corpus.groupBy().agg(
        F.countDistinct(F.col(id_col)).cast("long").alias("catalog_size")
    )
    from .stats import _ln_micro  # shared micro-ln discipline

    agg = counts.crossJoin(F.broadcast(tot)).groupBy().agg(
        F.count("*").cast("long").alias("n_recommended"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sc2"),
        # Σ c·(ln(n_slots) − ln(c)): self-information weighted by count
        F.sum(
            F.col("_c")
            * (_ln_micro(F.col("n_slots")) - _ln_micro(F.col("_c")))
        )
        .cast("long")
        .alias("_nov"),
        F.max("n_queries").alias("n_queries"),
        F.max("n_slots").alias("n_slots"),
    )
    return agg.crossJoin(F.broadcast(cat)).select(
        "n_queries",
        "n_slots",
        "catalog_size",
        "n_recommended",
        F.round(
            F.col("n_recommended") * F.lit(1_000_000) / F.col("catalog_size")
        )
        .cast("long")
        .alias("coverage_micro"),
        F.round(
            F.col("_sc2").cast("double")
            * 1_000_000
            / (F.lit(1.0) * F.col("n_slots") * F.col("n_slots"))
        )
        .cast("long")
        .alias("rec_hhi_micro"),
        F.round(F.col("_nov").cast("double") / F.col("n_slots"))
        .cast("long")
        .alias("novelty_micro"),
    )


def pca_power_iteration(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rounds: int = 6,
) -> DataFrame:
    """Top principal component of an embedding corpus by POWER
    ITERATION on the covariance matrix — the variance-structure audit
    (is one direction eating the embedding space? what fraction of
    total variance does PC1 explain?), fully relational and exact:

    * vectors quantize to micro ints; covariance cells use the
      n·Σxy − Σx·Σy form (decimal38 sums — the qc50 HUGEINT rule —
      so no mean subtraction and no raw double accumulation), then
      descale to int64 NANO cells with one rounded division each.
    * the iteration keeps v in integer MICRO units: w = C·v is an
      int64 matrix-vector sum (64 · 1e9 · 1e6 < 2^63); the norm is
      sqrt of a decimal38 sum of w² (IEEE sqrt, deterministic); the
      renormalized v_micro = round(w·1e6/‖w‖) re-enters the next
      round as integers.  A fixed `rounds` count — not a convergence
      test — keeps the plan static and the oracle unrollable (qb05 /
      qa02 relational-rounds idiom).
    * Rayleigh quotient at the end: λ_nano = round(Σ v·w / Σ v²),
      evr_micro = λ / trace (fixed mirrored double order).

    The O(n·d²) cell build is the Gram-matrix outer-product shuffle
    with map-side combine on (j,k); at petabyte n the same cells come
    from a per-partition X^T·X (mapInPandas) merged by '+', which
    this relational form is bit-compatible with.

    Output per dimension: j (1-based), v_micro, lambda_nano,
    trace_nano, evr_micro (same on every row — broadcast join).
    """
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_j0", "_x"),
    ).select(
        "_id",
        (F.col("_j0") + 1).alias("_j"),
        F.round(F.col("_x").cast("double") * 1_000_000)
        .cast("long")
        .alias("_xm"),
    )
    n_tot = ex.where(F.col("_j") == 1).agg(
        F.count("*").cast("long").alias("_n")
    )
    sums = ex.groupBy("_j").agg(
        F.sum("_xm").cast("long").alias("_sj")
    )
    # the 500-row parquet scan is ONE partition; without an explicit
    # repartition the Gram self-join and its per-pair decimal products
    # run single-task (the qa46 probe-side-parallelism trap)
    ex = ex.repartition(32, "_id")
    prods = (
        ex.alias("a")
        .join(ex.alias("b"), "_id")
        .groupBy(F.col("a._j").alias("_j"), F.col("b._j").alias("_k"))
        .agg(
            F.sum(
                F.col("a._xm").cast("decimal(38,0)")
                * F.col("b._xm").cast("decimal(38,0)")
            ).alias("_sjk")
        )
    )
    cells = (
        prods.join(sums.select(F.col("_j"), F.col("_sj").alias("_sa")), "_j")
        .join(
            sums.select(F.col("_j").alias("_k"), F.col("_sj").alias("_sb")),
            "_k",
        )
        .crossJoin(F.broadcast(n_tot))
        .select(
            "_j",
            "_k",
            F.round(
                (
                    F.col("_n").cast("decimal(38,0)") * F.col("_sjk")
                    - F.col("_sa").cast("decimal(38,0)")
                    * F.col("_sb").cast("decimal(38,0)")
                ).cast("double")
                / (F.col("_n").cast("double") * F.col("_n") * 1000)
            )
            .cast("long")
            .alias("_cell"),
        )
    )
    # pin the covariance cells ONCE: every iteration references them,
    # and an unpinned lineage re-derives the Gram pipeline per round
    # (the q96 2^rounds recompute trap — measured 89s -> ~constant)
    cells = cells.localCheckpoint()
    # v0 = e1 in micro units
    v = cells.select("_j").distinct().select(
        "_j",
        F.when(F.col("_j") == 1, F.lit(1_000_000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_vm"),
    )
    # each round references w ONCE: the norm is a window-over-all sum
    # on the d-row w frame (bounded dimension table) — the earlier
    # agg+crossJoin form referenced w twice per round, doubling the
    # unpinned chain every iteration (q96 recompute class; measured
    # 54s -> sub-second rounds)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    for _ in range(int(rounds)):
        w = (
            cells.join(
                v.select(F.col("_j").alias("_k"), "_vm"), "_k"
            )
            .groupBy("_j")
            .agg(F.sum(F.col("_cell") * F.col("_vm")).cast("long").alias("_w"))
        )
        v = w.select(
            "_j",
            F.round(
                F.col("_w").cast("double")
                * 1_000_000
                / F.sqrt(
                    F.sum(
                        F.col("_w").cast("decimal(38,0)")
                        * F.col("_w").cast("decimal(38,0)")
                    )
                    .over(wall)
                    .cast("double")
                )
            )
            .cast("long")
            .alias("_vm"),
        )
    wf = (
        cells.join(v.select(F.col("_j").alias("_k"), "_vm"), "_k")
        .groupBy("_j")
        .agg(F.sum(F.col("_cell") * F.col("_vm")).cast("long").alias("_w"))
    )
    ray = (
        v.join(wf, "_j")
        .agg(
            F.sum(
                F.col("_vm").cast("decimal(38,0)")
                * F.col("_w").cast("decimal(38,0)")
            ).alias("_num"),
            F.sum(F.col("_vm") * F.col("_vm")).cast("long").alias("_vtv"),
        )
        .select(
            F.round(F.col("_num").cast("double") / F.col("_vtv"))
            .cast("long")
            .alias("lambda_nano")
        )
    )
    trace = cells.where(F.col("_j") == F.col("_k")).agg(
        F.sum("_cell").cast("long").alias("trace_nano")
    )
    summary = ray.crossJoin(F.broadcast(trace)).select(
        "lambda_nano",
        "trace_nano",
        F.round(
            F.col("lambda_nano").cast("double")
            * 1_000_000
            / F.col("trace_nano")
        )
        .cast("long")
        .alias("evr_micro"),
    )
    return (
        v.crossJoin(F.broadcast(summary))
        .select(
            F.col("_j").cast("long").alias("j"),
            F.col("_vm").alias("v_micro"),
            "lambda_nano",
            "trace_nano",
            "evr_micro",
        )
    )


def isotropy_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space isotropy audit via the exact pair-sum identity
    — anisotropic (cone-shaped) embedding spaces break cosine
    retrieval and clustering (Ethayarajh 2019), and the mean pairwise
    dot product measures it WITHOUT any sampling or O(n²) work:

        Σ_{i≠j} x_i·x_j  =  ‖Σ_i x_i‖² − Σ_i ‖x_i‖²

    Both right-hand terms are integer sums of micro-quantized
    coordinates (per-dim sums squared in decimal38 — qc50 rule), so
    the whole audit is two aggregations over the exploded coordinate
    table; the three reported ratios are one mirrored division each.
    anisotropy = mean pairwise dot / mean squared norm (0 = perfectly
    spread, → 1 = a cone).

    Output (single row): n_vecs, sum_norm2 (int micro²),
    sumvec_norm2_div1e6 (the decimal38 ‖Σx‖² descaled by 1e6 — the
    raw value can pass int64), mean_norm2_micro, mean_pair_dot_micro,
    anisotropy_micro.
    """
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_j", "_x"),
    ).select(
        "_id",
        "_j",
        F.round(F.col("_x").cast("double") * 1_000_000)
        .cast("long")
        .alias("_xm"),
    )
    dims = ex.groupBy("_j").agg(F.sum("_xm").cast("long").alias("_sj"))
    sv = dims.agg(
        F.sum(
            F.col("_sj").cast("decimal(38,0)")
            * F.col("_sj").cast("decimal(38,0)")
        ).alias("_svn2")
    )
    tot = ex.agg(
        F.countDistinct("_id").cast("long").alias("_n"),
        F.sum(F.col("_xm") * F.col("_xm")).cast("long").alias("_sn2"),
    )
    out = tot.crossJoin(F.broadcast(sv))
    num = F.col("_svn2").cast("double") - F.col("_sn2")
    return out.select(
        F.col("_n").alias("n_vecs"),
        F.col("_sn2").alias("sum_norm2"),
        F.round(F.col("_svn2").cast("double") / 1_000_000)
        .cast("long")
        .alias("sumvec_norm2_div1e6"),
        F.round(
            F.col("_sn2").cast("double") / (F.col("_n").cast("double") * 1_000_000)
        )
        .cast("long")
        .alias("mean_norm2_micro"),
        F.round(
            num
            / (
                F.col("_n").cast("double")
                * (F.col("_n") - 1)
                * 1_000_000
            )
        )
        .cast("long")
        .alias("mean_pair_dot_micro"),
        F.round(
            num * 1_000_000 / ((F.col("_n") - 1).cast("double") * F.col("_sn2"))
        )
        .cast("long")
        .alias("anisotropy_micro"),
    )


def fisher_discriminant_dims(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    top_k: int = 10,
) -> DataFrame:
    """Per-dimension Fisher discriminant ratio of a labeled embedding
    corpus, top-k most discriminative dimensions — the feature-audit
    behind probing and pruning: which coordinates actually separate
    the classes?

        F_j = B_j / W_j,  B = Σ_c S_c²/n_c − S²/n,  W = Q − Σ_c S_c²/n_c

    Integer discipline: per-(class, dim) moment sums are int64 micro
    quantities; each S_c²/n_c is ONE mirrored double division rounded
    per CELL (qa91 rule) so the class sums stay integer; B and W are
    integer differences; the ratio rounds once.  Top-k is
    TakeOrdered (ratio desc, dim) — never a global sort.

    Output (top_k rows): j, b_scaled, w_scaled, fisher_micro.
    """
    ex = df.select(
        F.col(label_col).alias("_c"),
        F.posexplode(F.col(vec_col)).alias("_j0", "_x"),
    ).select(
        "_c",
        (F.col("_j0") + 1).alias("_j"),
        F.round(F.col("_x").cast("double") * 1_000_000)
        .cast("long")
        .alias("_xm"),
    )
    per_class = ex.groupBy("_c", "_j").agg(
        F.count("*").cast("long").alias("_nc"),
        F.sum("_xm").cast("long").alias("_sc"),
        F.sum(F.col("_xm") * F.col("_xm")).cast("long").alias("_qc"),
    )
    cells = per_class.select(
        "_j",
        "_nc",
        "_sc",
        "_qc",
        F.round(
            F.col("_sc").cast("double") * F.col("_sc") / F.col("_nc")
        )
        .cast("long")
        .alias("_r"),
    )
    per_dim = cells.groupBy("_j").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("_nc").cast("long").alias("_n"),
        F.sum("_sc").cast("long").alias("_s"),
        F.sum("_qc").cast("long").alias("_q"),
        F.sum("_r").cast("long").alias("_rr"),
    )
    b = F.col("_rr") - F.round(
        F.col("_s").cast("double") * F.col("_s") / F.col("_n")
    ).cast("long")
    w = F.col("_q") - F.col("_rr")
    return (
        per_dim.select(
            F.col("_j").cast("long").alias("j"),
            "n_classes",
            b.alias("b_scaled"),
            w.alias("w_scaled"),
            F.when(
                w > 0,
                F.round(b.cast("double") * 1_000_000 / w).cast("long"),
            ).alias("fisher_micro"),
        )
        # zero within-class variance excluded BEFORE ranking — keeps
        # fisher_micro non-null so desc NULL placement can't differ
        # between engines
        .where(F.col("w_scaled") > 0)
        .orderBy(F.col("fisher_micro").desc(), F.col("j"))
        .limit(int(top_k))
    )


def mahalanobis_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    top_k: int = 10,
) -> DataFrame:
    """Top-k embedding outliers by DIAGONAL-covariance Mahalanobis
    distance — the embedding-corpus anomaly audit next to the
    isotropy (qc88) and Fisher (qc89) checks: which vectors sit
    farthest from the corpus in per-dimension standardized units?
    (The full-covariance form needs a matrix inverse; the diagonal
    form is the standard first-pass screen and stays exactly
    mirrorable.)

    Per-dimension standardization is the integer identity
    (x−μ)²/σ² = (n·x − S)² / (nQ − S²): the numerator is int64, the
    denominator decimal38, each (vector, dim) term micro-rounded ONCE
    (per-cell rule) then integer-summed over dims.  Top-k is
    TakeOrdered (distance desc, id).  Zero-variance dims contribute
    exact 0 (excluded by the guard, both engines).

    Output (top_k rows): id, m2_micro (sum of squared z in micro),
    n_dims.
    """
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.col(vec_col)).alias("_j0", "_x"),
    ).select(
        "_id",
        (F.col("_j0") + 1).alias("_j"),
        F.round(F.col("_x").cast("double") * 1_000_000)
        .cast("long")
        .alias("_xm"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    dims = ex.groupBy("_j").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_xm").cast("long").alias("_s"),
        F.sum(dec(F.col("_xm")) * dec(F.col("_xm")))
        .cast("decimal(38,0)")
        .alias("_q"),
    )
    den = (dec(F.col("_n")) * F.col("_q") - dec(F.col("_s")) * dec(F.col("_s"))).cast(
        "double"
    )
    num = (F.col("_n") * F.col("_xm") - F.col("_s")).cast("double")
    terms = ex.join(F.broadcast(dims), "_j").select(
        "_id",
        F.when(
            den > 0,
            F.round(num * num * 1_000_000 / den).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("_t"),
    )
    per = terms.groupBy("_id").agg(
        F.sum("_t").cast("long").alias("m2_micro"),
        F.count("*").cast("long").alias("n_dims"),
    )
    return (
        per.select(F.col("_id").alias(id_col), "m2_micro", "n_dims")
        .orderBy(F.col("m2_micro").desc(), F.col(id_col))
        .limit(int(top_k))
    )


def hubness_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """kNN hubness audit — the high-dimensional pathology check
    (Radovanović et al. 2010) closing the embedding-audit suite
    (isotropy qc88, discriminability qc89, outliers qc96): when the
    k-occurrence distribution N_k (how often each point appears in
    others' top-k) grows skewed, a few hubs dominate retrieval and
    recall quietly collapses.

    Brute-force cosine top-k here (the audit runs on a sample or the
    IVF path at corpus scale — same downstream math); N_k includes
    never-retrieved points as exact zeros (left join).  The skewness
    uses the n-cancellation identity g1 = A/B^1.5 with
    A = n²Σc³ − 3nΣcΣc² + 2(Σc)³ and B = nΣc² − (Σc)² — both exact
    decimal38 integer forms, ONE mirrored double chain (sqrt is
    IEEE).  Antihub rate = fraction with N_k = 0.

    Output (single row): n_vecs, k, max_nk, antihub_micro,
    skew_milli.
    """
    q = df.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    )
    # repartition the STREAMED side before the broadcast cross join —
    # the tiny parquet scan is one partition, and the n² cosine
    # evaluations would otherwise run single-task (qa46 trap;
    # measured 73s -> seconds)
    t = df.select(
        F.col(id_col).alias("_tid"), F.col(vec_col).alias("_tv")
    ).repartition(32, "_tid")
    scored = (
        t.crossJoin(F.broadcast(q))
        .where(F.col("_tid") != F.col("_qid"))
        .select(
            "_qid",
            "_tid",
            F.round(
                cosine_cols(
                    F.col("_tv").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("long")
            .alias("_cos"),
        )
    )
    wr = Window.partitionBy("_qid").orderBy(
        F.col("_cos").desc(), F.col("_tid")
    )
    topk = scored.withColumn("_r", F.row_number().over(wr)).where(
        F.col("_r") <= int(k)
    )
    nk = (
        df.select(F.col(id_col).alias("_tid"))
        .join(
            topk.groupBy("_tid").agg(
                F.count("*").cast("long").alias("_c")
            ),
            "_tid",
            "left",
        )
        .select(F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("_c"))
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = nk.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_c").cast("long").alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_s2"),
        F.sum(dec(F.col("_c")) * dec(F.col("_c")) * dec(F.col("_c")))
        .cast("decimal(38,0)")
        .alias("_s3"),
        F.max("_c").cast("long").alias("max_nk"),
        F.sum(F.when(F.col("_c") == 0, 1).otherwise(0))
        .cast("long")
        .alias("_nz"),
    )
    a = (
        dec(F.col("_n")) * dec(F.col("_n")) * F.col("_s3")
        - F.lit(3).cast("decimal(38,0)") * dec(F.col("_n")) * dec(F.col("_s1")) * dec(F.col("_s2"))
        + F.lit(2).cast("decimal(38,0)") * dec(F.col("_s1")) * dec(F.col("_s1")) * dec(F.col("_s1"))
    )
    b = F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")
    return agg.select(
        F.col("_n").alias("n_vecs"),
        F.lit(int(k)).cast("long").alias("k"),
        "max_nk",
        F.round(F.col("_nz") * 1_000_000 / F.col("_n"))
        .cast("long")
        .alias("antihub_micro"),
        F.when(
            b > 0,
            F.round(
                a.cast("double")
                * 1000
                / (b.cast("double") * F.sqrt(b.cast("double")))
            ).cast("long"),
        ).alias("skew_milli"),
    )


def retrieval_confidence(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    ambiguous_gap_micro: int = 20_000,
) -> DataFrame:
    """Per-query retrieval-confidence audit (query-performance
    prediction): the top-1/top-2 score gap and the top-1 vs mean-of-
    top-k margin say, BEFORE any grading, which queries the index
    answers decisively and which land in an ambiguous neighborhood —
    route the latter to a reranker or a human.

    Brute-force cosine here (sample/IVF path at corpus scale, same
    downstream math); scores are the established cosine-micro ints,
    so gap12 is an integer difference and the top-k mean is one
    rounded division; `ambiguous` compares against an injected micro
    threshold.  Per-query work is a partitioned rank over k rows.

    Output per query: query_id, top1_cos_micro, gap12_micro,
    margin_topk_micro, ambiguous.
    """
    q = df.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    )
    # streamed-side repartition before the broadcast cross join (qa46
    # trap — see hubness_audit)
    t = df.select(
        F.col(id_col).alias("_tid"), F.col(vec_col).alias("_tv")
    ).repartition(32, "_tid")
    scored = (
        t.crossJoin(F.broadcast(q))
        .where(F.col("_tid") != F.col("_qid"))
        .select(
            "_qid",
            "_tid",
            F.round(
                cosine_cols(
                    F.col("_tv").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("long")
            .alias("_cos"),
        )
    )
    wr = Window.partitionBy("_qid").orderBy(
        F.col("_cos").desc(), F.col("_tid")
    )
    topk = scored.withColumn("_r", F.row_number().over(wr)).where(
        F.col("_r") <= int(k)
    )
    per = topk.groupBy("_qid").agg(
        F.max(F.when(F.col("_r") == 1, F.col("_cos"))).alias("_c1"),
        F.max(F.when(F.col("_r") == 2, F.col("_cos"))).alias("_c2"),
        F.sum("_cos").cast("long").alias("_sk"),
        F.count("*").cast("long").alias("_nk"),
    )
    gap = (F.col("_c1") - F.col("_c2")).cast("long")
    margin = (
        F.col("_c1")
        - F.round(F.col("_sk").cast("double") / F.col("_nk")).cast("long")
    ).cast("long")
    return per.select(
        F.col("_qid").alias("query_id"),
        F.col("_c1").cast("long").alias("top1_cos_micro"),
        gap.alias("gap12_micro"),
        margin.alias("margin_topk_micro"),
        (gap < F.lit(int(ambiguous_gap_micro))).alias("ambiguous"),
    )
