"""Deduplication operators for training-data pipelines at 100 TB scale.

Beyond the reference's exact dedup (core/lookup.py:49-58 full-row,
core/lookup.py:68-87 URI-priority — see topk.priority_dedup), a web-scale
corpus pipeline needs near-dup detection. All operators here are pure
DataFrame compositions over deterministic hash functions — portable to any
cluster, no driver-side loops, no Python in the hot path except where a
bit-twiddling step (simhash) genuinely needs it (Arrow-batched).

Determinism note: hashes are md5/xxhash64 of explicit strings — never
`hash()` of a row — so results are stable across Spark versions,
partitionings, and re-runs (required for the DuckDB cross-checks, which can
compute the same md5 strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalized_text_col(c: F.Column) -> F.Column:
    """Whitespace-squeeze + lower — the canonical form for exact dedup."""
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact near-copy removal: hash-groupBy on normalized text, keep the
    min-id representative. Output = input columns + `dup_count`.

    One shuffle on the 256-bit content hash; group sizes are tiny (dup
    clusters), so no skew concern even at 10^12 docs.
    """
    h = F.sha2(F.encode(normalized_text_col(F.col(text_col)), "utf-8"), 256)
    w = Window.partitionBy("_h").orderBy(F.col(id_col))
    return (
        df.withColumn("_h", h)
        .withColumn("dup_count", F.count("*").over(Window.partitionBy("_h")))
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .drop("_h", "_r")
    )


def shingles_all_col(text_col: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingles of normalized text as array<string>, one entry
    per OCCURRENCE (repetition analysis needs the multiset).

    Shape matters: the obvious `transform(sequence(...), i ->
    concat_ws(slice(words, i+1, n)))` embeds the `words` subtree INSIDE
    the lambda, and higher-order functions re-evaluate the lambda body
    per element — normalize+split re-ran once per word, O(len²) per doc
    (measured 10× slower at sf0.1: 5.1s vs 0.5s for the bigram explode).
    The zip_with chain below references `words` only as direct inputs,
    so normalize+split evaluate O(n) times per ROW: gram_i is built by
    zipping the word array with its k-shifted tails (null-padded; concat
    null-propagates, so partial tail grams filter out). Docs with fewer
    than n words keep the legacy semantics (one shingle = all words).
    Output is element-identical to the transform shape (parity-tested).
    """
    words = F.split(normalized_text_col(text_col), " ")
    g = words
    for k in range(1, n):
        tail = F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(1)))
        g = F.zip_with(g, tail, lambda a, b: F.concat(a, F.lit(" "), b))
    chain = F.filter(g, lambda x: x.isNotNull() & (F.length(x) > 0))
    small = F.filter(
        F.array(F.concat_ws(" ", words)), lambda x: F.length(x) > 0
    )
    return F.when(F.size(words) < n, small).otherwise(chain)


def shingles_col(text_col: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingles of normalized text as array<string> (distinct)."""
    return F.array_distinct(shingles_all_col(text_col, n))


def minhash_slice_cols(sh: F.Column, num_hashes: int) -> list[F.Column]:
    """The minhash hash family as Columns over a shingle Column: md5 is
    evaluated only ceil(num_hashes/4) times per shingle and each digest is
    cut into four 32-bit (8-hex-char) slices — hex-slice string order IS
    value order, so min-over-slices is a valid minhash family at a quarter
    of the per-shingle hash cost. Reproducible verbatim in SQL:
    substr(md5(j || ':' || sh), 8k+1, 8)."""
    cols: list[F.Column] = []
    digests: dict[int, F.Column] = {}
    for i in range(num_hashes):
        j, k = divmod(i, 4)
        if j not in digests:
            digests[j] = F.md5(
                F.encode(F.concat_ws(":", F.lit(str(j)), sh), "utf-8")
            )
        cols.append(F.substring(digests[j], 8 * k + 1, 8))
    return cols


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<string>) — MinHash over word-shingles.

    Hash family: 32-bit hex slices of md5(j ':' shingle) (see
    minhash_slice_cols — 4 slices per digest, so 16 hashes cost 4 md5
    evals per shingle, the hot cost of the whole operator). Minima are
    STRING mins over fixed-width lowercase hex — deterministic and
    reproducible in any engine with md5 + substr. Map-only (explode +
    groupBy id with min aggregates is shuffle-on-id; partial aggregation
    collapses shingles map-side).
    """
    ex = df.select(
        F.col(id_col), F.explode(shingles_col(F.col(text_col), shingle_n)).alias("sh")
    )
    slices = minhash_slice_cols(F.col("sh"), num_hashes)
    aggs = [F.min(c).alias(f"h{i}") for i, c in enumerate(slices)]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def banded_index(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band_id, band_hash) — the persisted LSH band index rows for a
    signature table.  This IS the stored index a 100 TB dedup service
    keeps between batches (see ``incremental_band_pairs``); candidate
    generation is always an equi-join on (band_id, band_hash)."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.encode(
                        F.concat_ws("|", *[F.element_at("sig", b * rows_per_band + r + 1)
                                           for r in range(rows_per_band)]),
                        "utf-8",
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col, "b.band_id", "b.band_hash"
    )


def minhash_band_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split signatures into `bands` rows-per-band groups,
    bucket-join on (band_id, band_hash), emit candidate pairs (a < b).

    This is the scale path: candidate generation is an equi-join on band
    hashes (shuffle on band key), never an all-pairs product. Hot buckets
    (boilerplate text) are bounded by the band hash width; residual skew is
    AQE's skew-join case.
    """
    banded = banded_index(sig, id_col, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def incremental_band_pairs(
    old_index: DataFrame,
    new_sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental MinHash-LSH index maintenance: given the PERSISTED
    band index of the existing corpus (``banded_index`` output — never
    re-hashed, never re-shuffled from text) and the signatures of a new
    delta batch, emit exactly the candidate pairs a full-batch rebuild
    would ADD — pairs touching ≥1 new doc:

      new×old  — delta band rows equi-joined against the stored index;
      new×new  — the delta's own banded self-join.

    MinHash signatures are per-doc (corpus-independent), so this is
    bit-identical to rebuilding and filtering — the parity the qa52
    oracle pins by filtering the full-batch q26 SQL to new-touching
    pairs.  Cost scales with |delta| + matched buckets, not corpus
    size: the daily ingest path at 100 TB.

    Output: (id_a, id_b) with id_a < id_b, distinct.
    """
    new_banded = banded_index(new_sig, id_col, num_hashes, bands)
    o = old_index.alias("o")
    n = new_banded.alias("n")
    cross = (
        n.join(
            o,
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(
            F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
    )
    n2 = new_banded.alias("m")
    within = (
        n.join(
            n2,
            (F.col("n.band_id") == F.col("m.band_id"))
            & (F.col("n.band_hash") == F.col("m.band_hash"))
            & (F.col(f"n.{id_col}") < F.col(f"m.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_a"), F.col(f"m.{id_col}").alias("id_b")
        )
    )
    return cross.union(within).distinct()


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash: bigint) — 64-bit SimHash over word tokens.

    Token hashes are xxhash64 (JVM-side); the per-bit majority vote is the
    only step Spark lacks natively, done with an array fold over 64 bit
    positions — still pure Column expressions (no Python).
    """
    words = F.split(normalized_text_col(F.col(text_col)), " ")
    tok = df.select(F.col(id_col), F.explode(words).alias("w")).where(F.length("w") > 0)
    tok = tok.withColumn("h", F.xxhash64("w"))
    # 64 masked vote aggregates in ONE groupBy — no per-bit row blowup, all
    # JVM-side with map-side partial aggregation. Bit 63's mask is the sign
    # bit, expressed as the signed long -2^63.
    masks = [(b, (1 << b) if b < 63 else -(1 << 63)) for b in range(64)]
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b, m in masks
    ]
    votes = tok.groupBy(id_col).agg(*aggs)
    sim = None
    for b, m in masks:
        term = F.when(F.col(f"v{b}") > 0, F.lit(m).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_hex(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash_hex: 16-hex-char string) — 64-bit SimHash whose token
    hash family is md5 (reproducible in any engine, unlike xxhash64 — this
    is the DuckDB-oracled variant; simhash64 stays the cheapest JVM path).

    Bit b (0..63, MSB-first) comes from hex char b//4, bit 3-(b%4) of its
    nibble. Per-bit majority votes run in ONE groupBy with map-side partial
    aggregation, exactly like simhash64; the nibble decode is conv() on a
    single hex char — all native Columns.

    Shape (measured, the distinct-first discipline of reference
    core/lookup.py:49-58 applied per doc): tokens are first collapsed to
    per-doc (word, count) histograms, then md5 + the 16-position nibble
    explode run once per DISTINCT (doc, word) with votes weighted by
    count. One extra shuffle (the (id, word) groupBy, map-side-combined),
    but md5 evals drop from per-occurrence to per-distinct-pair and the
    exploded stream shrinks proportionally — 30% faster than the
    per-occurrence shape on the bench corpus (3.9s → 2.8s warm, 10k
    docs) and the gap widens with doc length / Zipf repetition. A full
    cross-doc vocab SIGNATURE TABLE (md5 once per distinct word +
    re-join) was measured SLOWER than both (the join's extra exchange
    dominates), so it is deliberately not offered. Bit-identical output
    in all shapes: same per-bit majority over the same md5 nibbles.
    """
    words = F.split(normalized_text_col(F.col(text_col)), " ")
    tok = df.select(F.col(id_col), F.explode(words).alias("w")).where(F.length("w") > 0)
    # per-doc word histogram: map-side combine collapses repeated words
    wcount = tok.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    tokh = wcount.withColumn("h", F.md5(F.encode(F.col("w"), "utf-8")))
    # Nibble-histogram: per distinct (doc, word) explode the 16 hex
    # POSITIONS (not 64 bits) — 16 substr+conv evals each (a 64-wide
    # single-groupBy agg and a 64×-exploded vote stream both measured
    # ~2× slower at 10k docs).
    tokp = (
        tokh.select(
            F.col(id_col), F.col("c"), F.col("h"),
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("p"),
        )
        .select(
            id_col, "c", "p",
            F.conv(F.expr("substring(h, p + 1, 1)"), 16, 10)
            .cast("int").alias("n"),
        )
    )
    # ≤256 histogram rows per doc after the map-side combine; bit votes are
    # derived on the tiny histogram (each row fans to its 4 bits with
    # weight ±count).
    hist = tokp.groupBy(id_col, "p", "n").agg(F.sum("c").alias("cnt"))
    votes = (
        hist.select(
            F.col(id_col), F.col("cnt"), F.col("n"),
            F.explode(
                F.sequence(F.col("p") * 4, F.col("p") * 4 + F.lit(3))
            ).alias("b"),
        )
        .withColumn(
            "vote",
            F.when(F.expr("n & shiftleft(1, 3 - b % 4)") != 0, F.col("cnt"))
            .otherwise(-F.col("cnt")),
        )
        .groupBy(id_col, "b")
        .agg(F.sum("vote").alias("v"))
    )
    halves = votes.groupBy(id_col).agg(
        F.sum(
            F.when((F.col("b") < 32) & (F.col("v") > 0),
                   F.expr("shiftleft(1L, 31 - b)")).otherwise(F.lit(0))
        ).alias("_hi"),
        F.sum(
            F.when((F.col("b") >= 32) & (F.col("v") > 0),
                   F.expr("shiftleft(1L, 63 - b)")).otherwise(F.lit(0))
        ).alias("_lo"),
    )
    return halves.select(
        F.col(id_col),
        F.lower(
            F.concat(
                F.lpad(F.conv(F.col("_hi"), 10, 16), 8, "0"),
                F.lpad(F.conv(F.col("_lo"), 10, 16), 8, "0"),
            )
        ).alias("simhash_hex"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """(id_a, id_b, hamming ≤ max_hamming) SimHash near-dup pairs via the
    classic banded hamming join (Manku et al., WWW'07 'Detecting
    Near-Duplicates for Web Crawling'): split the 64-bit signature into
    `bands` equal bands — any pair within hamming distance bands-1 must
    agree EXACTLY on at least one band (pigeonhole), so candidate
    generation is an equi-join on (band_id, band_value), never all-pairs.
    The hamming distance itself is per-nibble XOR popcounts — native
    Columns, and reproducible in the DuckDB oracle (same md5 hash family
    as simhash_hex).

    SCALE RULE for `bands`: random band collisions grow as
    N²·bands/2^(64/bands), so the band width (64/bands) must grow with
    log2(N) — bands=4 (16-bit bands, hamming ≤3 guaranteed) is right up
    to ~10^6 docs; at web scale use bands=2 (32-bit bands, hamming ≤1
    guaranteed, collisions ~N²/2^32) and rely on repeated runs over
    bit-rotated signatures for higher distances (Manku's permuted-table
    scheme). max_hamming above the guarantee stays deterministic — both
    engines see the same candidates — it just lowers recall.
    """
    if 64 % bands:
        raise ValueError("bands must divide 64")
    hexw = 16 // bands
    sig = simhash_hex(df, text_col, id_col)
    # The banded join consumes sig on BOTH sides of a self-join; Spark
    # plans the full signature pipeline twice (0 ReusedExchange — measured
    # 8 parquet scans in the unmaterialized plan). Eagerly localCheckpoint
    # the signature table — n_docs × ~30B, executor-resident (never the
    # driver) — so tokenize+md5+votes run once and the join reads the
    # materialized partitions twice. Single-generation checkpoint, so the
    # Spark 4.1 cross-generation checkpoint bug (CLAUDE.md) doesn't apply.
    sig = sig.localCheckpoint(eager=True)
    bands_df = sig.select(
        F.col(id_col),
        "simhash_hex",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring(
                            "simhash_hex", hexw * b + 1, hexw
                        ).alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash_hex", "b.band_id", "b.band_val")
    # Explicit-numPartitions repartitions: the banded self-join is
    # output-heavy with byte-tiny inputs (the qa42 class), so without
    # pinning AQE coalesces both the join and the pair-distinct to a
    # handful of tasks (measured 3 tasks / 12 CPU-s on the distinct at
    # sf0.1).  The distinct's grouping keys extend the repartition
    # keys, so it reuses the same exchange.
    P = df.sparkSession.sparkContext.defaultParallelism
    a = bands_df.repartition(P, "band_id", "band_val").alias("a")
    b = bands_df.repartition(P, "band_id", "band_val").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash_hex").alias("_ha"),
            F.col("b.simhash_hex").alias("_hb"),
        )
        .repartition(P, "id_a", "id_b")
        .distinct()
    )
    nib = lambda c, i: F.conv(F.substring(c, i + 1, 1), 16, 10).cast("int")  # noqa: E731
    hamming = None
    for i in range(16):
        term = F.bit_count(nib("_ha", i).bitwiseXOR(nib("_hb", i)))
        hamming = term if hamming is None else hamming + term
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", pad: int = 19
) -> DataFrame:
    """(doc_id, cluster_rep) — connected components over near-dup candidate
    pairs; the representative is the min doc id of the component. This is
    the 'resolve transitive near-dup chains' step every dedup pipeline
    needs after candidate generation (A~B, B~C ⇒ keep only min(A,B,C)).

    Reuses the engine's iterative CC (numeric ids zero-padded so the
    string min is the numeric min). Only docs that appear in a pair are
    returned — singletons are trivially their own representative.
    Candidate-pair graphs are usually tiny relative to the corpus (LSH
    already pruned them), so a size-gated driver-local union-find handles
    graphs up to LOCAL_CC_THRESHOLD edges — identical labels, none of the
    per-iteration lineage-cut fixed cost; bigger graphs fall through to
    the distributed loop automatically.

    `pad` defaults to 19 — the max digit count of a non-negative bigint —
    because F.lpad TRUNCATES longer strings, which would silently collide
    ids (ADVICE r2). Negative ids are not supported (zero-padding breaks
    their ordering).
    """
    from ..pipeline.canonicalize import LOCAL_CC_THRESHOLD, connected_components

    edges = pairs.select(
        F.lpad(F.col(id_a).cast("string"), pad, "0").alias("src_iri"),
        F.lpad(F.col(id_b).cast("string"), pad, "0").alias("dst_iri"),
    )
    comp = connected_components(edges, local_threshold=LOCAL_CC_THRESHOLD)
    return comp.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_rep"),
    )


def simhash_hex_py(text: str) -> str:
    """Pure-Python reference for simhash_hex (tests / independent oracle)."""
    import hashlib
    import re

    words = [w for w in re.sub(r"\s+", " ", text).strip().lower().split(" ") if w]
    votes = [0] * 64
    for w in words:
        h = hashlib.md5(w.encode()).hexdigest()
        for b in range(64):
            nib = int(h[b // 4], 16)
            votes[b] += 1 if nib & (1 << (3 - b % 4)) else -1
    out = []
    for i in range(16):
        val = sum(
            wgt for k, wgt in zip(range(4), (8, 4, 2, 1)) if votes[4 * i + k] > 0
        )
        out.append("0123456789abcdef"[val])
    return "".join(out)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted index (not all-pairs):
    explode shingles → self-join on shingle → count common → Jaccard with
    per-doc shingle counts. Output (id_a, id_b, jaccard ≥ threshold).

    Scale control: the self-join on the shingle key is quadratic in each
    shingle's document frequency, so ubiquitous shingles (boilerplate)
    dominate cost. The stop-shingle cap drops shingles present in more
    than cap docs BEFORE sizes/joins; similarity is then "Jaccard over
    discriminative shingles", which is what near-dup detection wants
    anyway (deterministic, oracle-reproducible). Two knobs that COMPOSE:

    * `max_df_frac` — stopword semantics: cap = ceil(frac × corpus size),
      so what counts as "too common" rescales with corpus growth (the
      corpus size is a broadcast 1-row aggregate inside the plan, no
      driver action);
    * `max_df` — the absolute COST ceiling: each surviving shingle
      contributes ≤ df² join pairs, so an absolute bound keeps the
      quadratic term linear in corpus size regardless of the fraction.

    When both are given the cap is least(absolute, fractional) — fraction
    governs small corpora, the ceiling governs large ones.
    """
    common, sa, sb = _shingle_index_counts(
        df, text_col, id_col, shingle_n, max_df, max_df_frac
    )
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _shingle_index_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_df: int | None,
    max_df_frac: float | None,
):
    """Shared inverted-index core of the exact set-overlap family
    (ngram_jaccard_pairs / ngram_containment_pairs): capped distinct
    shingles → self-join on the shingle key → per-pair common counts +
    per-doc set sizes. Returns (common, sizes_as_a, sizes_as_b) with
    columns (id_a, id_b, n_common) / (id_a, n_a) / (id_b, n_b)."""
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(F.col(text_col), shingle_n)).alias("sh")
    )
    if max_df_frac is not None:
        cap = F.ceil(F.col("_n_docs") * F.lit(max_df_frac))
        if max_df is not None:
            cap = F.least(cap, F.lit(max_df).cast("bigint"))
        sh = sh.crossJoin(
            F.broadcast(df.agg(F.countDistinct(id_col).alias("_n_docs")))
        )
    elif max_df is not None:
        cap = F.lit(max_df)
    if max_df is not None or max_df_frac is not None:
        # document frequency as a window count: ONE shuffle on sh (which the
        # common-join below reuses via the same partitioning), no second
        # scan of the exploded shingles, no join
        w_df = Window.partitionBy("sh")
        sh = (
            sh.withColumn("_df", F.count("*").over(w_df))
            .where(F.col("_df") <= cap)
            .drop("_df", *(["_n_docs"] if max_df_frac is not None else []))
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return common, sa, sb


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Broder containment near-dup (Broder 1997 'On the resemblance and
    containment of documents'): containment(a in b) = |S(a) ∩ S(b)| /
    |S(a)| over distinct n-gram shingle sets. Catches the near-SUPERSET
    case Jaccard misses — a short doc embedded verbatim in a much longer
    one has high containment but low Jaccard (boilerplate wrappers,
    quoted replies, prompt-in-completion leaks).

    Output, one row per unordered pair with id_a < id_b:
    (id_a, id_b, n_common, n_a, n_b, cont_a_micro, cont_b_micro) where
    cont_a_micro = round(n_common/n_a × 1e6) — kept when EITHER direction
    clears `threshold`. Integer micro so any engine hashes identically
    (single division then round; no accumulation).

    Same inverted-index core and composed stop-shingle caps as
    ngram_jaccard_pairs — never all-pairs; each shingle contributes ≤ df²
    candidate pairs, bounded by the caps. Reference analogue: none — the
    reference dedups whole records only (core/lookup.py:49-58); this is
    training-data curation surface."""
    common, sa, sb = _shingle_index_counts(
        df, text_col, id_col, shingle_n, max_df, max_df_frac
    )
    thr_micro = int(round(threshold * 1e6))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "cont_a_micro",
            F.round(F.col("n_common") / F.col("n_a") * 1e6).cast("long"),
        )
        .withColumn(
            "cont_b_micro",
            F.round(F.col("n_common") / F.col("n_b") * 1e6).cast("long"),
        )
    )
    return out.where(
        (F.col("cont_a_micro") >= thr_micro) | (F.col("cont_b_micro") >= thr_micro)
    ).select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "cont_a_micro", "cont_b_micro"
    )


def _dup_gram_occ(df, text_col, id_col, n, min_count):
    """Shared scaffolding for span-level duplication ops: tokenized
    docs (`base`: doc_id, _toks, n_tokens), word-n-gram occurrences
    (`occ`: doc_id, pos 1-based, gram) and the corpus-duplicated gram
    set (`dup`: gram, occurring >= min_count times corpus-wide).

    Grams are assembled from the exploded TOKEN stream with window
    lead()s, not a transform()-built gram array: Spark 4.1 fuses an
    array-building projection into the Generate it feeds (CollapseProject
    ignores the "own projection" guard) and re-evaluates it per OUTPUT
    row — O(doc_len^2) per doc, measured 9.9s vs 1.1s at sf0.1 for the
    lead() form (element_at variant: 20s). Cost of the lead() form is
    one token-stream shuffle keyed by doc_id — which downstream per-doc
    span windows (merge_dup_spans) then reuse for free."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized_text_col(F.col(text_col)), " ").alias("_toks"),
    ).select("doc_id", "_toks", F.size("_toks").alias("n_tokens"))
    tok = base.select("doc_id", F.posexplode("_toks").alias("_p0", "_w"))
    w = Window.partitionBy("doc_id").orderBy("_p0")
    parts = [F.col("_w")] + [F.lead("_w", i).over(w) for i in range(1, n)]
    occ = (
        tok.select(
            "doc_id",
            (F.col("_p0") + 1).alias("pos"),
            F.concat_ws(" ", *parts).alias("gram"),
            (F.lead("_w", n - 1).over(w) if n > 1 else F.col("_w")).alias("_ok"),
        )
        .where(F.col("_ok").isNotNull())
        .drop("_ok")
    )
    dup = (
        occ.groupBy("gram")
        .count()
        .where(F.col("count") >= min_count)
        .select("gram")
    )
    return base, occ, dup


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): per document, the
    fraction of token positions covered by at least one word n-gram that
    occurs >= min_count times across the WHOLE corpus (self-repeats
    count). Output: (doc_id, n_tokens, dup_tokens, dup_frac_micro) where
    dup_frac_micro = round(dup_tokens / n_tokens * 1e6).

    The reference dedups at whole-record granularity only
    (core/lookup.py:49-58); span-level coverage is the training-data
    extension used to cut verbatim memorisation.

    Scale shape (no all-pairs anywhere):
    * one explode to (doc, pos, gram) — linear in corpus tokens;
    * corpus gram frequencies via groupBy(gram).count() — map-side
      combined, one shuffle keyed by the gram;
    * a LEFT SEMI join of occurrences against the duplicated-gram set —
      plain shuffled equi join, skew bounded because a gram's join
      fan-out is its occurrence count (linear, not quadratic: the gram
      set side is distinct);
    * coverage = explode(sequence(pos, pos+n-1)) then per-doc
      count(DISTINCT position) — a fixed n-fold expansion of only the
      DUPLICATED occurrences, then one count-distinct shuffle keyed by
      doc. At 100 TB the duplicated subset is the minority of tokens, so
      the expansion is cheap relative to the scan.

    The grams array is built in its OWN projection before posexplode so
    the transform() runs once per document, not once per exploded output
    row (per-element re-evaluation trap — see CLAUDE.md).
    """
    n = int(ngram_n)
    base, occ, dup = _dup_gram_occ(df, text_col, id_col, n, min_count)
    covered = (
        occ.join(dup, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("_p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_tokens"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens") * 1e6
            )
            .cast("long")
            .alias("dup_frac_micro"),
        )
    )


def merge_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
    min_count: int = 2,
    min_span_tokens: int = 1,
) -> DataFrame:
    """Maximal duplicated spans per document: every corpus-duplicated
    word n-gram covers token interval [pos, pos+n-1]; overlapping or
    adjacent intervals are merged (gaps-and-islands) into the maximal
    spans a span-level deduper would actually CUT (Lee et al. 2022 —
    q70/dup_span_stats reports the coverage fraction; this op emits the
    spans themselves). Output: (doc_id, span_start, span_end, span_len),
    1-based inclusive token positions.

    Islands by the classic running-max rule: order a doc's duplicated
    intervals by start; a new island begins where start > 1 + max(end)
    over all earlier intervals; island id = running sum of the flag;
    span = min(start)..max(end) per island. All windows are partitioned
    BY DOC over only its duplicated intervals — per-doc state, never a
    global sort, and the duplicated subset is the minority of tokens at
    corpus scale (same shape as dup_span_stats)."""
    n = int(ngram_n)
    _, occ, dup = _dup_gram_occ(df, text_col, id_col, n, min_count)
    iv = occ.join(dup, "gram", "left_semi").select(
        "doc_id", F.col("pos").alias("_s"), (F.col("pos") + n - 1).alias("_e")
    )
    w = Window.partitionBy("doc_id").orderBy("_s", "_e")
    prev_max_e = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.select(
        "doc_id",
        "_s",
        "_e",
        F.when(prev_max_e.isNull() | (F.col("_s") > prev_max_e + 1), 1)
        .otherwise(0)
        .alias("_new"),
    )
    islands = flagged.select(
        "doc_id",
        "_s",
        "_e",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_isl"),
    )
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(F.min("_s").alias("span_start"), F.max("_e").alias("span_end"))
        .where(F.col("span_end") - F.col("span_start") + 1 >= min_span_tokens)
        .select(
            "doc_id",
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_len"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Robust winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003 — the
    MOSS algorithm): hash every word `shingle_n`-gram, slide a `window`-
    gram window over the hash sequence, and select each window's minimum
    hash (ties → RIGHTMOST occurrence, the 'robust' rule that makes
    selections stable under edits). Guarantees: any shared run of
    `window + shingle_n - 1` words between two documents yields at least
    one shared selected fingerprint, while only ~2/(window+1) of all
    grams are kept — a position-aware sketch between exact inverted
    index (q27, keeps everything) and MinHash (q26, keeps a global
    sample with no locality guarantee).

    Output: (id, fp, pos) — distinct selected fingerprints, fp = first 8
    hex chars of md5(gram) (fixed-width lowercase hex, so STRING order is
    VALUE order — the same portability trick as minhash_slice_cols), pos
    = 0-based gram position of the selected occurrence.

    Scale shape: map-only — per-document array ops (hash array → per-
    window array_min over slices → array_distinct), no shuffle, no
    Python. The three projections are deliberately separate so the
    md5-hash array is NOT inlined into the per-window lambda (the
    per-element re-evaluation trap; CollapseProject keeps non-cheap
    multi-referenced projections materialized). Window minima cost
    O(n·window) comparisons per doc with `window` small and constant.

    Reference analogue: none — the reference dedups whole records only
    (core/lookup.py:49-58); this is training-data curation surface.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    d = df.select(
        F.col(id_col),
        shingles_all_col(F.col(text_col), shingle_n).alias("_g"),
    )
    # (hash, -pos) structs: array_min's lexicographic struct order then
    # implements (min hash, rightmost position) in one comparison
    d = d.select(
        F.col(id_col),
        F.transform(
            "_g",
            lambda g, i: F.struct(
                F.substring(F.md5(F.encode(g, "utf-8")), 1, 8).alias("h"),
                (-i).alias("np"),
            ),
        ).alias("_hp"),
    )
    d = d.select(
        F.col(id_col),
        "_hp",
        F.sequence(
            F.lit(0), F.greatest(F.size("_hp") - window, F.lit(0))
        ).alias("_wins"),
    )
    sel = F.array_distinct(
        F.transform("_wins", lambda i: F.array_min(F.slice("_hp", i + 1, window)))
    )
    return d.select(F.col(id_col), F.explode(sel).alias("_fp")).select(
        F.col(id_col),
        F.col("_fp.h").alias("fp"),
        (-F.col("_fp.np")).alias("pos"),
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """MOSS-style match detection over winnowed fingerprints: documents
    sharing >= `min_shared` selected fingerprints are candidate
    near-dups / plagiarism pairs. Because winnowing guarantees a shared
    fingerprint for any shared run of `window + shingle_n - 1` words,
    this catches LOCAL verbatim reuse (a copied paragraph inside
    otherwise-different documents) that whole-set Jaccard dilutes away —
    at ~2/(window+1) of the inverted-index cost of q27.

    Output per unordered pair (id_a < id_b): (id_a, id_b, n_common,
    n_a, n_b, overlap_micro) where n_* are distinct-fingerprint set
    sizes and overlap_micro = round(n_common / least(n_a, n_b) × 1e6)
    (overlap coefficient; single division then round — oracle-portable).

    Same composed stop-fingerprint caps as ngram_jaccard_pairs: the
    fingerprint self-join is quadratic in each fingerprint's document
    frequency, so `max_df` bounds the per-key join cost and
    `max_df_frac` gives stopword semantics that rescale with the corpus.
    """
    fp = winnow_fingerprints(df, text_col, id_col, shingle_n, window).select(
        F.col(id_col), F.col("fp")
    ).distinct()
    if max_df_frac is not None:
        cap = F.ceil(F.col("_n_docs") * F.lit(max_df_frac))
        if max_df is not None:
            cap = F.least(cap, F.lit(max_df).cast("bigint"))
        fp = fp.crossJoin(
            F.broadcast(df.agg(F.countDistinct(id_col).alias("_n_docs")))
        )
    elif max_df is not None:
        cap = F.lit(max_df)
    if max_df is not None or max_df_frac is not None:
        w_df = Window.partitionBy("fp")
        fp = (
            fp.withColumn("_df", F.count("*").over(w_df))
            .where(F.col("_df") <= cap)
            .drop("_df", *(["_n_docs"] if max_df_frac is not None else []))
        )
    sizes = fp.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    a = fp.alias("a")
    b = fp.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_fp").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "overlap_micro",
            F.round(
                F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")) * 1e6
            ).cast("long"),
        )
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "overlap_micro")
    )


def cross_source_leakage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source share of docs whose exact content also appears in
    ANOTHER source — the train/eval leakage + syndicated-boilerplate
    monitor run before any per-source quality conclusions.

    One groupBy on the sha2 of normalized text (collision-free stand-in
    for the text itself, narrow shuffle key), a co-keyed join back, and
    a source-keyed agg; leak_micro = round(1e6·n_leaked/n_docs) from
    integer counts.
    """
    docs = df.select(
        F.col(id_col),
        F.col(source_col),
        F.sha2(F.encode(normalized_text_col(F.col(text_col)), "utf-8"), 256)
        .alias("_h"),
    )
    per_hash = docs.groupBy("_h").agg(
        F.countDistinct(source_col).alias("_n_src")
    )
    flagged = docs.join(per_hash, "_h")
    agg = flagged.groupBy(source_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_n_src") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_leaked"),
    )
    return agg.withColumn(
        "leak_micro",
        F.round((F.col("n_leaked") * 1_000_000).cast("double") / F.col("n_docs"))
        .cast("long"),
    )


def cluster_size_profile(
    assignments: DataFrame,
    universe: DataFrame,
    id_col: str = "doc_id",
    rep_col: str = "cluster_rep",
) -> DataFrame:
    """Near-dup family size histogram: how many clusters of each size the
    corpus contains and how much document mass sits in them — the
    one-table answer to "is my dedup removing a long tail of pairs or a
    few giant template families?" (the number that decides whether
    representatives need re-sampling before training).

    `assignments` = (id, rep) rows from dedup_clusters (docs that appear
    in at least one candidate pair); `universe` = every doc id.  Docs
    without an assignment are size-1 singleton clusters (rep = self) via
    one left join.  Two map-side-combinable groupBys; output is
    size-domain-sized.

    Output: (cluster_size, n_clusters, n_docs).
    """
    assign = (
        universe.select(F.col(id_col))
        .join(assignments.select(id_col, rep_col), id_col, "left")
        .select(
            F.coalesce(F.col(rep_col), F.col(id_col)).alias("_rep"),
        )
    )
    sizes = assign.groupBy("_rep").agg(F.count("*").cast("long").alias("_sz"))
    return (
        sizes.groupBy(F.col("_sz").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("_sz").cast("long").alias("n_docs"),
        )
    )


def dedup_composition_shift(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim_col: str,
) -> DataFrame:
    """Survivorship audit of exact dedup: per dimension value (lang,
    source, ...), the corpus share BEFORE vs AFTER `exact_dedup` and
    the shift — dedup is never composition-neutral (template spam
    concentrates in particular feeds), and a mixture designed on
    pre-dedup shares silently re-weights after it.

    Shares micro-round once each; the shift is an int64 difference.

    Output per dim value: dim, n_before, n_after, kept_micro
    (after/before), share_before_micro, share_after_micro, shift_micro
    (after − before share).
    """
    before = df.groupBy(F.col(dim_col).alias("_d")).agg(
        F.count("*").cast("long").alias("n_before")
    )
    after = (
        exact_dedup(df, text_col, id_col)
        .groupBy(F.col(dim_col).alias("_d"))
        .agg(F.count("*").cast("long").alias("n_after"))
    )
    tot = before.agg(F.sum("n_before").cast("long").alias("_tb"))
    tot_a = after.agg(F.sum("n_after").cast("long").alias("_ta"))
    joined = (
        before.join(after, "_d", "left")
        .withColumn("n_after", F.coalesce("n_after", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tot_a))
    )
    sb = F.round(F.col("n_before") * F.lit(1_000_000) / F.col("_tb")).cast(
        "long"
    )
    sa = F.round(F.col("n_after") * F.lit(1_000_000) / F.col("_ta")).cast(
        "long"
    )
    return joined.select(
        F.col("_d").alias(dim_col),
        "n_before",
        "n_after",
        F.round(F.col("n_after") * F.lit(1_000_000) / F.col("n_before"))
        .cast("long")
        .alias("kept_micro"),
        sb.alias("share_before_micro"),
        sa.alias("share_after_micro"),
        (sa - sb).alias("shift_micro"),
    )


def deletion_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 64,
) -> DataFrame:
    """SymSpell-style deletion-neighborhood near-dup join at the WORD
    level: every document emits its normalized token sequence plus each
    single-deletion variant; two documents pair iff they SHARE a
    variant string — i.e. their sequences are equal after deleting at
    most one token from each side (catches one-word insertions,
    deletions, and same-position substitutions — the "template with one
    slot changed" duplicates LSH needs many bands to see).

    EXACT by construction: the join key is the variant STRING itself
    (never just a hash), so the shared-variant predicate IS the
    deletion-distance relation — no verify stage.  Docs longer than
    `max_tokens` are EXCLUDED (emission is O(len) per doc and the
    single-token-edit relation is meaningful for short template
    strings; long-document near-dup belongs to the MinHash/SimHash
    family) — a documented gate, not a silent cap.

    The words array is projected into its own column BEFORE the variant
    transform (higher-order lambda bodies re-evaluate embedded subtrees
    per element — the shingles_all_col lesson), and the pair-distinct
    repartitions on the pair key with explicit numPartitions (hot
    variants produce k² pairs in one join task otherwise — the qa42 AQE
    coalescing class).

    Output: (id_a, id_b, n_a, n_b, n_shared_variants), id_a < id_b.
    Identical sequences of length n share n+1 variants.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.filter(
            F.split(normalized_text_col(F.col(text_col)), " "),
            lambda x: F.length(x) > 0,
        ).alias("_w"),
    ).where((F.size("_w") >= 1) & (F.size("_w") <= int(max_tokens)))
    n = F.size("_w")
    variants = F.transform(
        F.sequence(F.lit(0), n),
        lambda i: F.when(i == 0, F.concat_ws(" ", F.col("_w"))).otherwise(
            F.concat_ws(
                " ",
                F.concat(
                    F.slice(F.col("_w"), 1, i - 1),
                    F.slice(F.col("_w"), i + 1, F.size("_w") - i),
                ),
            )
        ),
    )
    emitted = base.select(
        "_id", n.cast("long").alias("_n"), F.explode(variants).alias("_v")
    ).distinct()
    a = emitted.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "_v"
    )
    b = emitted.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), "_v"
    )
    P = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.repartition(P, "_v")
        .join(b.repartition(P, "_v"), "_v")
        .where(F.col("id_a") < F.col("id_b"))
        .repartition(P, "id_a", "id_b")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").cast("long").alias("n_shared_variants"))
    )
    return pairs


def lsh_collision_grid(
    spark,
    s_deciles: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8, 9),
    configs: tuple[tuple[int, int], ...] = ((32, 4), (16, 8), (8, 16)),
) -> DataFrame:
    """LSH banding planner: the collision probability
    p(s) = 1 − (1 − s^r)^b for every (similarity decile, bands b,
    rows-per-band r) cell — the tuning table behind THIS repo's own
    minhash_band_pairs / multi-table LSH (q26/q30 families): pick the
    (b, r) whose S-curve knee sits at your dedup threshold before
    paying for a signature pass.

    All exponents are POWERS OF TWO, so both engines evaluate the
    same square-chain of IEEE multiplications (s²,s⁴,s⁸,s¹⁶ then
    t²…t³²) — no pow(), no exp/ln, every intermediate a named column
    that pins the op order; one terminal micro round.  A pure
    dimension-table computation: 27 rows, no scan, broadcast-sized
    by construction.

    Output per cell: s_decile, b, r, p_micro.
    """
    supported = {(32, 4), (16, 8), (8, 16)}
    bad = [c for c in configs if tuple(int(v) for v in c) not in supported]
    if bad:
        raise ValueError(
            "lsh_collision_grid supports only (b, r) in "
            f"{sorted(supported)} (the square-chain exponents are "
            f"hardcoded per branch); got unsupported: {bad}"
        )
    rows = [
        (int(s), int(b), int(r)) for s in s_deciles for (b, r) in configs
    ]
    g = spark.createDataFrame(rows, ["s_decile", "b", "r"])
    st = g.select(
        "s_decile",
        "b",
        "r",
        (F.col("s_decile").cast("double") / 10).alias("_s1"),
    )
    for k in (2, 4, 8, 16):
        st = st.withColumn(f"_s{k}", F.col(f"_s{k // 2}") * F.col(f"_s{k // 2}"))
    st = st.withColumn(
        "_t1",
        F.lit(1.0)
        - F.when(F.col("r") == 4, F.col("_s4"))
        .when(F.col("r") == 8, F.col("_s8"))
        .otherwise(F.col("_s16")),
    )
    for k in (2, 4, 8, 16, 32):
        st = st.withColumn(f"_t{k}", F.col(f"_t{k // 2}") * F.col(f"_t{k // 2}"))
    tb = (
        F.when(F.col("b") == 8, F.col("_t8"))
        .when(F.col("b") == 16, F.col("_t16"))
        .otherwise(F.col("_t32"))
    )
    return st.select(
        F.col("s_decile").cast("long").alias("s_decile"),
        F.col("b").cast("long").alias("b"),
        F.col("r").cast("long").alias("r"),
        F.round((F.lit(1.0) - tb) * 1_000_000).cast("long").alias("p_micro"),
    )


def dedup_savings_report(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    bytes_col: str = "n_chars",
) -> DataFrame:
    """Storage/compute savings report over `dedup_clusters` output —
    the business case for the dedup pass: per cluster SIZE, how many
    clusters, how many docs, total bytes, and bytes freed by keeping
    only the min-id representative.  Singletons (docs in no candidate
    pair) enter as size-1 clusters via the left join, so the totals
    reconcile against the raw corpus exactly.  All integer sums; two
    shuffles (cluster rollup, size histogram).

    Output per cluster_size: cluster_size, n_clusters, n_docs,
    bytes_total, bytes_savable.
    """
    j = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(bytes_col).cast("long").alias("_by"),
        )
        .join(
            clusters.select(
                F.col(id_col).alias("_id"), F.col("cluster_rep")
            ),
            "_id",
            "left",
        )
        .select(
            "_id",
            "_by",
            F.coalesce(F.col("cluster_rep"), F.col("_id")).alias("_cl"),
        )
    )
    pc = j.groupBy("_cl").agg(
        F.count("*").cast("long").alias("_size"),
        F.sum("_by").cast("long").alias("_bytes"),
        F.sum(F.when(F.col("_id") == F.col("_cl"), F.col("_by")).otherwise(0))
        .cast("long")
        .alias("_rep_bytes"),
    )
    return pc.groupBy(F.col("_size").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("_size").cast("long").alias("n_docs"),
        F.sum("_bytes").cast("long").alias("bytes_total"),
        F.sum(F.col("_bytes") - F.col("_rep_bytes"))
        .cast("long")
        .alias("bytes_savable"),
    )


def dedup_threshold_sweep(
    pairs: DataFrame,
    thresholds_milli: tuple[int, ...] = (
        100, 200, 300, 400, 500, 600, 700, 800,
    ),
) -> DataFrame:
    """Near-dup threshold sensitivity sweep over an exact-Jaccard
    candidate pair table (q27 output: id_a, id_b, n_common, n_a,
    n_b) — how many pairs and how many affected documents at each
    cutoff, so the dedup threshold is chosen from a table instead of
    folklore.  The comparison 1000·c >= t·(a + b − c) is an exact
    integer cross-multiplication; pair counts and conditional
    DISTINCT doc counts come from one grid-joined aggregation each
    (the grid is a broadcast dimension).

    Output per threshold: t_milli, n_pairs, n_docs_affected.
    """
    grid = pairs.sparkSession.createDataFrame(
        [(int(t),) for t in thresholds_milli], ["t_milli"]
    )
    keep = (
        1000 * F.col("n_common")
        >= F.col("t_milli")
        * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    )
    pj = pairs.crossJoin(F.broadcast(grid)).where(keep)
    np_ = pj.groupBy("t_milli").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    docs = pj.select("t_milli", F.col("id_a").alias("_id")).unionByName(
        pj.select("t_milli", F.col("id_b").alias("_id"))
    )
    nd = docs.groupBy("t_milli").agg(
        F.countDistinct("_id").cast("long").alias("n_docs_affected")
    )
    return (
        np_.join(nd, "t_milli")
        .select(
            F.col("t_milli").cast("long").alias("t_milli"),
            "n_pairs",
            "n_docs_affected",
        )
    )


def apriori_triples(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Frequent item TRIPLES by the A-priori level-wise prune
    (Agrawal & Srikant 1994) — one level beyond qb47's pair rules:
    candidate (a,b,c) is counted ONLY when all three sub-pairs pass
    min_support, so the triple join's candidate space collapses
    before the expensive count (the anti-monotonicity that makes
    basket mining survive scale).

    All counting is exact distinct-(basket, item) joins: freq-1 filter
    → freq-2 pair counts (i1 < i2 equi-join on the basket) → candidate
    triples from freq-2 pairs sharing a head item with a semi-join on
    the third pair → support via a three-way basket join.  Top-k by
    (support desc, items) is TakeOrdered.

    Output (top_k rows): item_a, item_b, item_c, support.
    """
    bi = (
        baskets.select(
            F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
        )
        .distinct()
    )
    f1 = (
        bi.groupBy("_i")
        .agg(F.count("*").cast("long").alias("_c"))
        .where(F.col("_c") >= int(min_support))
        .select("_i")
    )
    bif = bi.join(F.broadcast(f1), "_i").select("_b", "_i")
    p = (
        bif.alias("x")
        .join(bif.alias("y"), "_b")
        .where(F.col("x._i") < F.col("y._i"))
        .groupBy(
            F.col("x._i").alias("_a"), F.col("y._i").alias("_bb")
        )
        .agg(F.count("*").cast("long").alias("_c"))
        .where(F.col("_c") >= int(min_support))
        .select("_a", "_bb")
    )
    cand = (
        p.alias("p1")
        .join(p.alias("p2"), F.col("p1._a") == F.col("p2._a"))
        .where(F.col("p1._bb") < F.col("p2._bb"))
        .select(
            F.col("p1._a").alias("_ia"),
            F.col("p1._bb").alias("_ib"),
            F.col("p2._bb").alias("_ic"),
        )
        .join(
            p.select(
                F.col("_a").alias("_ib"), F.col("_bb").alias("_ic")
            ),
            ["_ib", "_ic"],
            "left_semi",
        )
    )
    t1 = bif.select(F.col("_b"), F.col("_i").alias("_ia"))
    t2 = bif.select(F.col("_b"), F.col("_i").alias("_ib"))
    t3 = bif.select(F.col("_b"), F.col("_i").alias("_ic"))
    sup = (
        cand.join(t1, "_ia")
        .join(t2, ["_b", "_ib"])
        .join(t3, ["_b", "_ic"])
        .groupBy("_ia", "_ib", "_ic")
        .agg(F.count("*").cast("long").alias("support"))
        .where(F.col("support") >= int(min_support))
    )
    return (
        sup.select(
            F.col("_ia").alias("item_a"),
            F.col("_ib").alias("item_b"),
            F.col("_ic").alias("item_c"),
            "support",
        )
        .orderBy(
            F.col("support").desc(),
            F.col("item_a"),
            F.col("item_b"),
            F.col("item_c"),
        )
        .limit(int(top_k))
    )


def similarity_triangle_gaps(pairs: DataFrame) -> DataFrame:
    """Transitivity audit of a similarity pair graph (q27-style
    edges): count wedges a~b~c whose closing edge a~c is MISSING —
    near-dup similarity should be roughly transitive, so a low
    closure rate means the candidate generator (banding, prefix
    filter) is dropping real pairs and the downstream CC clusters are
    fragmenting (the recall-hole estimate qa37's pairwise metrics
    can't see).

    Pure set algebra: symmetrize edges, one wedge equi-join on the
    center with an a < c total order (each wedge counted once), a
    left-semi close check against the canonical edge list.

    Output (single row): n_edges, n_wedges, n_closed, closure_micro.
    """
    e = pairs.select(
        F.col("id_a").alias("_u"), F.col("id_b").alias("_v")
    )
    und = e.unionByName(
        e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    )
    wedges = (
        und.alias("x")
        .join(
            und.alias("y").select(
                F.col("_u").alias("_c"), F.col("_v").alias("_w")
            ),
            F.col("x._v") == F.col("_c"),
        )
        .where(F.col("x._u") < F.col("_w"))
        .select(F.col("x._u").alias("_a"), F.col("_w").alias("_b"))
    )
    closed = wedges.join(
        e.select(F.col("_u").alias("_a"), F.col("_v").alias("_b")),
        ["_a", "_b"],
        "left_semi",
    )
    ne = e.count()
    nw = wedges.count()
    nc = closed.count()
    spark = pairs.sparkSession
    out = spark.createDataFrame(
        [(int(ne), int(nw), int(nc))], "n_edges long, n_wedges long, n_closed long"
    )
    return out.select(
        "n_edges",
        "n_wedges",
        "n_closed",
        F.when(
            F.col("n_wedges") > 0,
            F.round(F.col("n_closed") * 1_000_000 / F.col("n_wedges"))
            .cast("long"),
        ).alias("closure_micro"),
    )


def cluster_source_mix(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Provenance mix of near-dup clusters — the qa21/qa45 question
    asked of the DEDUP output: are duplicate clusters intra-source
    (republication) or cross-source (the same upstream corpus feeding
    multiple providers — double-counted training data AND a leakage
    channel)?  Singletons enter as size-1 clusters via the left join
    (the dedup_savings_report discipline), so totals reconcile.

    Everything is exact integer counting: per (cluster, source) counts
    → per cluster size / source count / majority-source docs → one
    bounded rollup keyed by (cluster_size, n_sources).  Purity =
    majority docs / docs, one micro division at the end.

    Output per (cluster_size, n_sources): n_clusters, n_docs,
    majority_docs, purity_micro.
    """
    j = (
        docs.select(
            F.col(id_col).alias("_id"), F.col(source_col).alias("_src")
        )
        .join(
            clusters.select(F.col(id_col).alias("_id"), "cluster_rep"),
            "_id",
            "left",
        )
        .select(
            "_src",
            F.coalesce(F.col("cluster_rep"), F.col("_id")).alias("_cl"),
        )
    )
    cs = j.groupBy("_cl", "_src").agg(F.count("*").cast("long").alias("_c"))
    per_cl = cs.groupBy("_cl").agg(
        F.sum("_c").cast("long").alias("_size"),
        F.count("*").cast("long").alias("_nsrc"),
        F.max("_c").cast("long").alias("_maj"),
    )
    return (
        per_cl.groupBy(
            F.col("_size").alias("cluster_size"),
            F.col("_nsrc").alias("n_sources"),
        )
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("_size").cast("long").alias("n_docs"),
            F.sum("_maj").cast("long").alias("majority_docs"),
        )
        .select(
            "cluster_size",
            "n_sources",
            "n_clusters",
            "n_docs",
            "majority_docs",
            F.round(F.col("majority_docs") * 1_000_000 / F.col("n_docs"))
            .cast("long")
            .alias("purity_micro"),
        )
    )
