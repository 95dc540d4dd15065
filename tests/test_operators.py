"""Operator-level tests: synonym dedup parity, CC correctness vs a BFS
oracle, comention vs brute force, dedup/similarity determinism."""

from __future__ import annotations

import random
from collections import defaultdict, deque

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ontology_mapper_spark.functions.synonyms import dedupe_synonyms_col, top_synonyms_col
from ontology_mapper_spark.oracle.semantics import dedupe_synonyms
from ontology_mapper_spark.operators.dedup import (
    exact_dedup,
    minhash_band_pairs,
    minhash_signatures,
    simhash64,
)
from ontology_mapper_spark.operators.multimodal import (
    deterministic_fake_features,
    extract_media_features,
    frame_sample_plan,
)
from ontology_mapper_spark.pipeline.canonicalize import connected_components
from ontology_mapper_spark.pipeline.comention import comention_edges


def test_dedupe_synonyms_col_matches_oracle(spark):
    rng = random.Random(13)
    pool = ["Pain", "pain", " pain ", "ACHE", "ache", "x", "ab", "", "  ",
            "sore", "Sore Spot", "chronic pain", "CHRONIC PAIN", "zz", "zzz"]
    cases = [
        [rng.choice(pool) for _ in range(rng.randrange(0, 12))] for _ in range(40)
    ]
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("syns", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(list(enumerate(cases)), schema)
    got = {
        r.i: r.out
        for r in df.select("i", dedupe_synonyms_col(F.col("syns")).alias("out")).collect()
    }
    for i, case in enumerate(cases):
        assert got[i] == dedupe_synonyms(case, set()), (i, case)


def test_top_synonyms_slice(spark):
    df = spark.createDataFrame(
        [(["delta", "alpha", "beta", "gamma", "epsilon"],)], ["syns"]
    )
    out = df.select(top_synonyms_col(F.col("syns"), 3).alias("o")).first()["o"]
    assert out == ["beta", "alpha", "delta"]  # (len, lower) sort then top-3


def _bfs_components(edges):
    adj = defaultdict(set)
    nodes = set()
    for u, v in edges:
        if u == v:
            continue
        adj[u].add(v)
        adj[v].add(u)
        nodes.update((u, v))
    comp = {}
    for start in sorted(nodes):
        if start in comp:
            continue
        members = []
        q = deque([start])
        seen = {start}
        while q:
            n = q.popleft()
            members.append(n)
            for m in adj[n]:
                if m not in seen:
                    seen.add(m)
                    q.append(m)
        mn = min(members)
        for m in members:
            comp[m] = mn
    return comp


def test_connected_components_vs_bfs_oracle(spark):
    rng = random.Random(5)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = []
    # chains
    for i in range(0, 40, 4):
        for j in range(3):
            edges.append((nodes[i + j], nodes[i + j + 1]))
    # cliques
    for base in (50, 60):
        for i in range(base, base + 5):
            for j in range(i + 1, base + 5):
                edges.append((nodes[i], nodes[j]))
    # giant hub (skew shape): many spokes on one hot node
    for i in range(70, 110):
        edges.append((nodes[70], nodes[i]))
    # random extra edges
    for _ in range(30):
        edges.append((rng.choice(nodes[:110]), rng.choice(nodes[:110])))
    edges = [(u, v) for u, v in edges if u != v]

    df = spark.createDataFrame(edges, ["src_iri", "dst_iri"])
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _bfs_components(edges)


def test_cc_path_graph_converges_logarithmically(spark):
    """Pointer jumping must hold rounds to ~log2(diameter): a 1024-node
    PATH (worst-case diameter) must converge in well under diameter
    rounds — this pins the property the max_iter=64 default relies on."""
    n = 1024
    edges = [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["src_iri", "dst_iri"])
    stats = {}
    labels = {r.node: r.component
              for r in connected_components(df, stats=stats).collect()}
    assert set(labels.values()) == {"n00000"}
    assert len(labels) == n
    assert stats["iterations"] <= 14, stats  # ~log2(1024)+slack, not ~1024



def test_cc_cut_dirs_under_tempdir_and_removed_at_exit(spark, monkeypatch):
    """Distributed CC cuts lineage into a fresh dir per call under
    tempfile's directory, and registers that dir's removal at exit."""
    import atexit
    import os
    import tempfile

    monkeypatch.delenv("OMX_CC_CUT_DIR", raising=False)
    assert not spark.sparkContext.getCheckpointDir()
    hooks = []
    monkeypatch.setattr(
        atexit, "register", lambda fn, *args: hooks.append((fn, args))
    )
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")],
                               ["src_iri", "dst_iri"])
    for _ in range(2):
        got = connected_components(df, local_threshold=0).collect()
        assert {(r.node, r.component) for r in got} == {
            ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    dirs = [args[0] for _, args in hooks]
    assert len(dirs) == 2 and len(set(dirs)) == 2
    tmp = os.path.realpath(tempfile.gettempdir())
    for d in dirs:
        assert os.path.dirname(os.path.realpath(d)) == tmp
        assert os.path.isdir(d) and os.listdir(d)
    for fn, args in hooks:
        fn(*args)
    assert not any(os.path.exists(d) for d in dirs)


def test_comention_edges_bruteforce(spark):
    rows = [
        ("c1", 0, "A"), ("c1", 1, "B"), ("c1", 2, "C"), ("c1", 5, "A"),
        ("c2", 0, "A"), ("c2", 0, "B"),
        # regression: lexicographically SMALLER entity mentioned later —
        # the window is symmetric, so (apple, banana) must still edge.
        ("c3", 3, "banana"), ("c3", 5, "apple"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "class_iri"])
    got = {
        (r.entity_a, r.entity_b): r.n_comentions
        for r in comention_edges(df, window_turns=2).collect()
    }
    # brute force: symmetric window of 2 (|t1-t2| <= 2), unordered pairs
    # counted once via e1 < e2
    expect = defaultdict(int)
    ments = [(c, t, e) for c, t, e in rows]
    for c1, t1, e1 in ments:
        for c2, t2, e2 in ments:
            if c1 == c2 and abs(t1 - t2) <= 2 and e1 < e2:
                expect[(e1, e2)] += 1
    assert got == dict(expect)
    assert ("apple", "banana") in got


def test_exact_dedup_keeps_min_id(spark):
    rows = [
        (1, "hello  world"), (2, "Hello world"), (3, "unique doc"),
        (4, "hello world "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.dup_count for r in exact_dedup(df).collect()}
    assert out == {1: 3, 3: 1}


def test_minhash_pipeline_deterministic_and_finds_dups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),  # exact dup
        (3, "totally different words here now ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(df, num_hashes=8, shingle_n=1)
    pairs = {(r.id_a, r.id_b) for r in minhash_band_pairs(sig, num_hashes=8, bands=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    sigs = {r.doc_id: list(r.sig) for r in sig.collect()}
    assert sigs[1] == sigs[2]
    # determinism across runs
    sig2 = {r.doc_id: list(r.sig) for r in minhash_signatures(df, num_hashes=8, shingle_n=1).collect()}
    assert sigs == sig2


def test_simhash_properties(spark):
    rows = [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "q r s t u v w")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert all(isinstance(v, int) for v in out.values())


def test_dedup_clusters_transitive(spark):
    from ontology_mapper_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3)], ["id_a", "id_b"]
    )
    got = {r.doc_id: r.cluster_rep for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_clusters_wide_ids_no_truncation(spark):
    # ids >= 10^12 exceeded the old pad=12 and F.lpad TRUNCATES, silently
    # colliding distinct docs (ADVICE r2); pad=19 covers any bigint
    from ontology_mapper_spark.operators.dedup import dedup_clusters

    a, b, c, d = 10**13 + 7, 10**13 + 8, 10**18 + 1, 10**18 + 2
    pairs = spark.createDataFrame([(a, b), (c, d)], ["id_a", "id_b"])
    got = {r.doc_id: r.cluster_rep for r in dedup_clusters(pairs).collect()}
    assert got == {a: a, b: a, c: c, d: c}


def test_simhash_neardup_pairs_banded(spark):
    from ontology_mapper_spark.operators.dedup import simhash_neardup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base),
        (2, base),                      # identical → hamming 0
        (3, base + " extra"),           # tiny mutation → small hamming
        (4, "totally different words entirely here now ok fine yes"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_neardup_pairs(df, max_hamming=8).collect()}
    assert got[(1, 2)] == 0
    assert (1, 4) not in got and (2, 4) not in got
    # banding guarantee: identical docs always pair regardless of max_hamming
    strict = {(r.id_a, r.id_b)
              for r in simhash_neardup_pairs(df, max_hamming=0).collect()}
    assert (1, 2) in strict


def test_hash_split_properties(spark):
    from ontology_mapper_spark.operators.split import (
        hash_split_col,
        split_thresholds,
        train_test_split,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    out = train_test_split(df, "k")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "valid", "test"}
    # ~0.8/0.1/0.1 within loose tolerance
    assert 0.75 < counts["train"] / 5000 < 0.85
    assert 0.07 < counts["valid"] / 5000 < 0.13
    # deterministic under repartitioning
    again = {
        (r.k, r.split)
        for r in train_test_split(df.repartition(13), "k").collect()
    }
    assert again == {(r.k, r.split) for r in out.collect()}
    # salt changes assignment
    salted = train_test_split(df, "k", salt="v2")
    moved = (
        out.select("k", "split")
        .join(salted.select("k", F.col("split").alias("s2")), "k")
        .where(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved > 0
    # threshold validation
    import pytest

    with pytest.raises(ValueError):
        split_thresholds({"a": 0.5, "b": 0.2})
    assert hash_split_col(F.lit("x"), {"all": 1.0}) is not None
    # cumulative fraction rounding to 2**32 must clamp to 8 hex chars —
    # a 9-char '100000000' threshold would lexicographically misroute
    # ~15/16 of rows (ADVICE r2)
    thr = dict(split_thresholds({"train": 1.0, "test": 0.0}))
    assert thr["train"] == "ffffffff"
    deg = train_test_split(df, "k", fracs={"train": 1.0, "test": 0.0})
    dcounts = {
        r.split: r.n
        for r in deg.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert dcounts.get("train", 0) == 5000


def test_simhash_hex_count_weighted_histogram_parity(spark):
    # the per-(doc, word) histogram shape (md5 once per distinct pair,
    # count-weighted votes) must be bit-identical to the per-occurrence
    # Python reference, including heavy repetition and normalization
    from ontology_mapper_spark.operators.dedup import simhash_hex, simhash_hex_py

    rows = [
        (1, "alpha beta beta gamma gamma gamma"),
        (2, "Alpha  BETA beta\tgamma"),
        (3, "one two three four five six seven"),
        (4, ""),
        (5, "repeat repeat repeat repeat repeat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r.doc_id: r.simhash_hex for r in simhash_hex(df).collect()}
    assert len(a) == 4  # empty text yields no tokens/row
    for i, text in rows:
        if i != 4:
            assert a[i] == simhash_hex_py(text), i


def test_simhash_hex_matches_python_reference(spark):
    from ontology_mapper_spark.operators.dedup import simhash_hex, simhash_hex_py

    rows = [
        (1, "alpha  Beta gamma gamma"),
        (2, "the quick brown fox jumps over lazy dog"),
        (3, "single"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.simhash_hex for r in simhash_hex(df).collect()}
    for i, text in rows:
        assert got[i] == simhash_hex_py(text), i


def test_stratified_sample_exact_quota_and_deterministic(spark):
    import math

    from ontology_mapper_spark.operators.split import stratified_sample

    rows = [(i, "s%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "stratum"])
    out = stratified_sample(df, "stratum", "k", 0.3)
    per = {r.stratum: r.n for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert per == {"s0": math.ceil(100 * 0.3), "s1": 30, "s2": 30}
    # deterministic under repartitioning
    again = {tuple(r) for r in stratified_sample(df.repartition(17), "stratum", "k", 0.3).collect()}
    assert again == {tuple(r) for r in out.collect()}
    # salt changes the selected set, quota unchanged
    salted = stratified_sample(df, "stratum", "k", 0.3, salt="v2")
    assert salted.count() == out.count()
    assert {r.k for r in salted.collect()} != {r.k for r in out.collect()}
    import pytest

    with pytest.raises(ValueError):
        stratified_sample(df, "stratum", "k", 0.0)


def test_repetition_stats_bruteforce(spark):
    from collections import Counter

    from ontology_mapper_spark.operators.textstats import repetition_stats

    rows = [
        (1, "a b a b a b c"),        # 'a b' dominates
        (2, "x y z w"),              # all bigrams unique → tie on gram
        (3, "one one one one"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_grams, r.top_gram, r.top_count, r.rep_micro)
        for r in repetition_stats(df).collect()
    }
    for i, text in rows:
        words = text.split()
        grams = [" ".join(words[k:k + 2]) for k in range(len(words) - 1)]
        c = Counter(grams)
        # deterministic tie policy: max count, then lexicographically
        # SMALLEST gram
        best_cnt = max(c.values())
        best_gram = min(g for g, n in c.items() if n == best_cnt)
        micro = round(best_cnt * len(best_gram) / len(text) * 1e6)
        assert got[i] == (len(grams), best_gram, best_cnt, micro), i


def test_bigram_nll_bruteforce(spark):
    import math
    from collections import Counter

    from ontology_mapper_spark.operators.textstats import bigram_nll

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),            # frequent bigrams → lower nll
        (3, "zebra quark nebula"),     # all-unseen-context → higher nll
        (4, "solo"),                   # single word: no bigrams, absent row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_bigrams, r.nll_micro_sum, r.nll_avg_micro)
        for r in bigram_nll(df).collect()
    }
    # brute-force mirror
    toks = {i: t.split() for i, t in rows}
    bgs = {i: list(zip(w, w[1:])) for i, w in toks.items()}
    c1 = Counter(b[0] for bb in bgs.values() for b in bb)
    c12 = Counter(b for bb in bgs.values() for b in bb)
    vocab = len({w for ws in toks.values() for w in ws})
    for i, bb in bgs.items():
        if not bb:
            assert i not in got
            continue
        s = sum(
            round(-math.log((c12[b] + 1.0) / (c1[b[0]] + vocab)) * 1e6)
            for b in bb
        )
        assert got[i] == (len(bb), s, s // len(bb)), i
    # the repeated-bigram doc must score lower surprise than the unique one
    assert got[2][2] < got[3][2]


def test_exact_neardup_guard_refuses_large_corpus(spark):
    import pytest

    from ontology_mapper_spark.operators.similarity import exact_neardup_pairs

    df = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="O\\(N²\\)|allow_large"):
        exact_neardup_pairs(df, threshold=0.5, max_rows=10)
    # explicit override works, and micro values are deterministic
    out = exact_neardup_pairs(df, threshold=0.99, max_rows=10, allow_large=True)
    assert out.count() > 0


def test_media_features_fake_decode(spark):
    payloads = [(1, "image", b"abcdef"), (2, "video", b"\x00\x01\x02")]
    from ontology_mapper_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(
        [(i, k, p, None, None, None, 2500) for i, k, p in payloads],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: (r.n_bytes, list(r.feature)) for r in extract_media_features(df).collect()}
    import numpy as np

    assert out[1][0] == 6
    # FEATURE_SCHEMA stores float32 (embedding convention) — compare at f32
    assert out[1][1] == [
        float(np.float32(x)) for x in deterministic_fake_features(b"abcdef", 8)
    ]
    plan = frame_sample_plan(df, every_ms=1000).collect()
    assert {(r.media_id, r.frame_ts_ms) for r in plan} == {(2, 0), (2, 1000), (2, 2000)}


def test_media_features_injected_decoder(spark):
    """The decode boundary is dependency-injected: a custom decode_fn
    must be called by the Arrow batch path with (payload bytes, kind)
    and its return vector must flow through to the output — the hook a
    real cluster uses to plug PIL/libav without touching engine code."""
    from ontology_mapper_spark.operators.multimodal import MEDIA_SCHEMA

    payloads = [(1, "image", b"abcdef"), (2, "audio", b"\x00\x01")]
    df = spark.createDataFrame(
        [(i, k, p, None, None, None, 2500) for i, k, p in payloads],
        MEDIA_SCHEMA,
    )

    def decode(payload, kind):
        # provably derived from BOTH arguments, unmistakably not the fake
        return [float(len(payload)), float(len(kind)), 42.0]

    out = {
        r.media_id: (r.n_bytes, list(r.feature))
        for r in extract_media_features(df, decode_fn=decode).collect()
    }
    assert out[1] == (6, [6.0, 5.0, 42.0])
    assert out[2] == (2, [2.0, 5.0, 42.0])
    # and a decode_fn that raises surfaces (the use_fake=False boundary)
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_media_features(df, use_fake=False).collect()


def test_resize_and_audio_chunk_plans(spark):
    from ontology_mapper_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_chunk_plan,
        resize_plan,
    )

    rows = [
        (1, "image", b"", None, 1024, 768, None),     # downscale, snap to 8
        (2, "image", b"", None, 300, 200, None),      # no upscale
        (3, "image", b"", None, None, None, None),    # unknown dims
        (4, "audio", b"", None, None, None, 75_000),  # 3 chunks (30s step)
        (5, "audio", b"", None, None, None, 0),       # zero duration
        (6, "video", b"", None, None, None, 5_000),
    ]
    df = spark.createDataFrame(
        [(i, k, p, m, w, h, d) for i, k, p, m, w, h, d in rows], MEDIA_SCHEMA
    )
    rp = {r.media_id: (r.target_w, r.target_h, r.scale_micro)
          for r in resize_plan(df, max_side=512, multiple_of=8).collect()}
    # 1024x768 → scale 0.5 → 512x384 (both multiples of 8)
    assert rp[1] == (512, 384, 500000)
    # small image untouched (snap keeps 300→296? NO: scale 1.0, snap floors
    # to multiple of 8 → 296x200); verify the snap rule exactly
    assert rp[2] == (296, 200, 1000000)
    assert rp[3] == (None, None, None)
    assert 6 not in rp  # videos excluded

    ch = sorted(
        (r.media_id, r.chunk_idx, r.start_ms, r.end_ms)
        for r in audio_chunk_plan(df, chunk_ms=30_000).collect()
    )
    assert ch == [
        (4, 0, 0, 30_000), (4, 1, 30_000, 60_000), (4, 2, 60_000, 75_000),
    ]
    # overlap halves the stride
    ov = audio_chunk_plan(df, chunk_ms=30_000, overlap_ms=15_000).collect()
    assert max(r.chunk_idx for r in ov) == 4
    import pytest

    with pytest.raises(ValueError):
        audio_chunk_plan(df, chunk_ms=10, overlap_ms=10)


def test_comparison_report_matches_oracle(spark):
    from ontology_mapper_spark.operators.comparator import comparison_report
    from ontology_mapper_spark.oracle.semantics import compare_results

    bp_rows = [
        {"label": "Fatigue", "uri": "http://ex/1", "ontology": "HP"},
        {"label": "Pain", "uri": "http://ex/2", "ontology": "HP"},
        {"label": "pain", "uri": "http://ex/2b", "ontology": "NCIT"},  # dup label, last wins
        {"label": "OnlyBP", "uri": "http://ex/3", "ontology": "HP"},
    ]
    ols_rows = [
        {"label": "fatigue", "uri": "http://ex/1", "ontology": "hp"},     # same uri
        {"label": "Pain", "uri": "http://ex/other", "ontology": "ncit"},  # uri mismatch
        {"label": "OnlyOLS", "uri": "http://ex/4", "ontology": "mondo"},
    ]
    golden = compare_results(bp_rows, ols_rows, "fatigue")

    bp = spark.createDataFrame([(r["label"], r["uri"], r["ontology"]) for r in bp_rows],
                               ["label", "uri", "ontology"])
    ols = spark.createDataFrame([(r["label"], r["uri"], r["ontology"]) for r in ols_rows],
                                ["label", "uri", "ontology"])
    got = comparison_report(bp, ols, "fatigue")

    assert got["bioportal_count"] == golden["bioportal_count"]
    assert got["ols_count"] == golden["ols_count"]
    assert got["discrepancies"] == golden["discrepancies"]
    g_common = {(t["bioportal_uri"], t["ols_uri"], t["uri_match"])
                for t in golden["common_terms"]}
    s_common = {(t["bioportal_uri"], t["ols_uri"], t["uri_match"])
                for t in got["common_terms"]}
    assert s_common == g_common
    assert {r["label"] for r in got["bioportal_only"]} == {
        r["label"] for r in golden["bioportal_only"]}
    assert {r["label"] for r in got["ols_only"]} == {
        r["label"] for r in golden["ols_only"]}


def test_shingles_all_col_zipwith_parity(spark):
    # zip_with shape (O(n) evals/row) must match the per-occurrence
    # semantics of the old transform shape, including the size<n fallback
    from ontology_mapper_spark.operators.dedup import shingles_all_col

    rows = [
        (1, "a b c d"),
        (2, "a"),               # fewer words than n -> one short shingle
        (3, ""),                # empty -> no shingles
        (4, "x y"),             # exactly n
        (5, "r r r"),           # repeats kept (multiset)
        (6, "  padded   ws  "), # normalization applies first
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, tuple(r.sh))
        for r in df.select(
            "doc_id", shingles_all_col(F.col("text"), 2).alias("sh")
        ).collect()
    }
    want = {
        (1, ("a b", "b c", "c d")),
        (2, ("a",)),
        (3, ()),
        (4, ("x y",)),
        (5, ("r r", "r r")),
        (6, ("padded ws",)),
    }
    assert got == want
    # n=3 spot checks
    got3 = {
        r.doc_id: tuple(r.sh)
        for r in df.select(
            "doc_id", shingles_all_col(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert got3[1] == ("a b c", "b c d")
    assert got3[4] == ("x y",)
    assert got3[2] == ("a",)


def test_contamination_report_and_decontaminate(spark):
    from ontology_mapper_spark.operators.decontaminate import (
        contamination_report,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),   # shares 3-gram
            (2, "completely unrelated words appear here"),
            (3, "quick brown fox is a benchmark phrase"),    # shares 3-gram
            (4, "short doc"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox run")], ["doc_id", "text"]
    )
    rep = {
        r.doc_id: r.n_overlap
        for r in contamination_report(corpus, bench, shingle_n=3).collect()
    }
    # doc 1 shares 'the quick brown' and 'quick brown fox'; doc 3 shares
    # 'quick brown fox'
    assert rep == {1: 2, 3: 1}
    clean = {r.doc_id for r in decontaminate(corpus, bench, shingle_n=3).collect()}
    assert clean == {2, 4}
    # flag set and anti-join complement are consistent by construction
    assert clean | set(rep) == {1, 2, 3, 4}


def test_percentile_trim_exact_and_deterministic(spark):
    import pytest

    from ontology_mapper_spark.operators.textstats import percentile_trim

    rows = [(i, "g%d" % (i % 2), (i * 37) % 100) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "val"])
    out = percentile_trim(df, "val", by="grp", lower=0.1, upper=0.9)
    got = {(r.doc_id, r.grp, r.val) for r in out.collect()}
    # exact rank rule replicated in python per group
    want = set()
    bygrp = {}
    for i, g, v in rows:
        bygrp.setdefault(g, []).append((v, i, g))
    import math

    for g, items in bygrp.items():
        items.sort()
        n = len(items)
        lo, hi = math.ceil(n * 0.1), math.ceil(n * 0.9)
        for rank, (v, i, _g) in enumerate(items, start=1):
            if lo <= rank <= hi:
                want.add((i, g, v))
    assert got == want
    # deterministic under repartitioning (the approx_percentile failure mode)
    again = {
        (r.doc_id, r.grp, r.val)
        for r in percentile_trim(
            df.repartition(17), "val", by="grp", lower=0.1, upper=0.9
        ).collect()
    }
    assert again == got
    with pytest.raises(ValueError):
        percentile_trim(df, "val", lower=0.9, upper=0.1)


def test_dup_span_stats_hand_computed(spark):
    from ontology_mapper_spark.operators.dedup import dup_span_stats

    docs = [
        (1, "a b c d e"),        # "a b c" shared with doc 2 -> pos 1-3 covered
        (2, "a b c x y"),        # same -> pos 1-3 covered
        (3, "z z z z"),          # self-repeat "z z z" x2 -> all 4 covered
        (4, "unique tokens only here now"),  # no duplicated gram
        (5, "hi there"),         # shorter than n: zero grams, zero dup
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac_micro)
        for r in dup_span_stats(df, "text", "doc_id", ngram_n=3, min_count=2).collect()
    }
    assert out == {
        1: (5, 3, 600000),
        2: (5, 3, 600000),
        3: (4, 4, 1000000),
        4: (5, 0, 0),
        5: (2, 0, 0),
    }


def test_semdedup_matches_bruteforce(spark):
    import hashlib
    import math
    import random

    from ontology_mapper_spark.operators.similarity import semdedup

    rng = random.Random(7)
    # 3 tight groups + noise so the >=tau graph is non-trivial
    seeds = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(3)]
    rows = []
    for i in range(42):
        base = seeds[i % 3]
        vec = [v + rng.uniform(-0.05, 0.05) for v in base] if i < 30 else [
            rng.uniform(-1, 1) for _ in range(8)
        ]
        rows.append((i, [float(v) for v in vec]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r.vec_id: (r.list_id, r.cent_sim_micro, r.n_similar, r.keep)
        for r in semdedup(df, threshold=0.35, n_centroids=4).collect()
    }

    # python mirror of the whole rule
    def cos_micro(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        # round-half-even like Spark/DuckDB round() on doubles? both use
        # half-up for round(); python round is banker's — use floor(x+0.5)
        v = d / (na * nb) * 1e6
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    by_id = dict(rows)
    cent_ids = sorted(by_id, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:4]
    cent = {
        rank + 1: by_id[i]
        for rank, i in enumerate(
            sorted(cent_ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        )
    }
    assign, csim = {}, {}
    for i, v in rows:
        best = max(cent, key=lambda c: (cos_micro(v, cent[c]), -c))
        assign[i], csim[i] = best, cos_micro(v, cent[best])
    want = {}
    for i, v in rows:
        neigh = [
            j
            for j, u in rows
            if j != i and assign[j] == assign[i] and cos_micro(v, u) >= 350000
        ]
        dominated = any(
            csim[j] < csim[i] or (csim[j] == csim[i] and j < i) for j in neigh
        )
        want[i] = (assign[i], csim[i], len(neigh), not dominated)
    assert got == want
    # at least one duplicate must actually be dropped for the test to bite
    assert any(not k for _, _, _, k in got.values())
    assert any(n > 0 and k for _, _, n, k in got.values())


def test_pmi_comention_edges_hand_computed(spark):
    import math

    from ontology_mapper_spark.pipeline.comention import pmi_comention_edges

    rows = [
        ("u1", "A"), ("u1", "B"), ("u1", "D"), ("u1", "E"),
        ("u2", "A"), ("u2", "B"), ("u2", "D"), ("u2", "E"),
        ("u3", "A"), ("u3", "C"), ("u3", "D"), ("u3", "E"),
        ("u4", "B"), ("u4", "D"), ("u4", "E"),
        ("u4", "B"),  # duplicate mention: must not inflate counts
    ]
    df = spark.createDataFrame(rows, ["conv_id", "class_iri"])
    got = {
        (r.entity_a, r.entity_b): (r.n_a, r.n_b, r.n_ab, r.pmi_micro, r.npmi_micro)
        for r in pmi_comention_edges(df).collect()
    }

    def micro(x):
        v = x * 1e6
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    n = 4
    c = {"A": 3, "B": 3, "C": 1, "D": 4, "E": 4}
    units = {"A": {1, 2, 3}, "B": {1, 2, 4}, "C": {3}, "D": {1, 2, 3, 4},
             "E": {1, 2, 3, 4}}
    want = {}
    for x in c:
        for y in c:
            if x < y and units[x] & units[y]:
                nab = len(units[x] & units[y])
                pmi = math.log((nab * n) / (c[x] * c[y]))
                npmi = (
                    1000000 if nab == n
                    else micro(pmi / -math.log(nab / n))
                )
                want[(x, y)] = (c[x], c[y], nab, micro(pmi), npmi)
    assert got == want
    # the perfect-co-occurrence convention branch actually fired
    assert got[("D", "E")][4] == 1000000


def test_ngram_containment_catches_superset_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment of the
    short side is 1.0 while Jaccard is far below any useful threshold."""
    from ontology_mapper_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta"
    filler = " ".join(f"w{i} w{i}x" for i in range(30))
    docs = [
        (1, short),
        (2, filler + " " + short),       # superset of doc 1
        (3, "totally different words here with no overlap at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b, r.cont_a_micro, r.cont_b_micro)
        for r in ngram_containment_pairs(
            df, "text", "doc_id", shingle_n=2, threshold=0.9
        ).collect()
    }
    assert set(out) == {(1, 2)}
    n_common, n_a, n_b, ca, cb = out[(1, 2)]
    # all 3 bigrams of the short doc appear in the long one
    assert (n_common, n_a) == (3, 3) and ca == 1000000
    assert cb == round(n_common / n_b * 1e6)
    # Jaccard misses the same pair even at a low threshold
    jac = ngram_jaccard_pairs(
        df, "text", "doc_id", shingle_n=2, threshold=0.5
    ).collect()
    assert not jac


def test_ngram_containment_threshold_either_direction(spark):
    """The pair is kept when EITHER direction clears the threshold and the
    pair key is always id_a < id_b regardless of input order."""
    from ontology_mapper_spark.operators.dedup import ngram_containment_pairs

    docs = [
        (10, "p q r s"),
        (2, "x y p q r s z"),  # contains all of doc 10's bigrams
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = ngram_containment_pairs(
        df, "text", "doc_id", shingle_n=2, threshold=0.95
    ).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(2, 10)]
    r = rows[0]
    # doc 10's 3 bigrams all inside doc 2 -> cont for the id=10 side is 1.0
    assert r.cont_b_micro == 1000000 and r.cont_a_micro < 1000000


def _py_winnow(text, n=3, w=4):
    """Independent reference implementation of robust winnowing
    (Schleimer et al. 2003): min hash per window, ties to the RIGHTMOST
    occurrence; returns the distinct selected (pos, hash8) set."""
    import hashlib
    import re

    words = re.sub(r"\s+", " ", text.strip()).lower().split(" ")
    if len(words) < n:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest()[:8] for g in grams]
    sel = set()
    for i in range(max(len(hs) - w, 0) + 1):
        win = hs[i : i + w]
        m = min(win)
        # rightmost occurrence of the minimum
        j = max(k for k, h in enumerate(win) if h == m)
        sel.add((i + j, m))
    return sel


def test_winnow_fingerprints_match_reference_impl(spark):
    import random

    from ontology_mapper_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(12)]  # small vocab forces repeats/ties
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df, "text", "doc_id", shingle_n=3, window=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == _py_winnow(text, 3, 4), doc_id


def test_winnow_guarantee_and_pairs(spark):
    """Winnowing's coverage guarantee: a shared run of window+n-1 words
    must produce at least one shared fingerprint, so the pair surfaces in
    winnow_pairs even when whole-set overlap is tiny."""
    from ontology_mapper_spark.operators.dedup import winnow_pairs

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+n-1 run
    filler_a = " ".join(f"a{i}" for i in range(40))
    filler_b = " ".join(f"b{i}" for i in range(40))
    docs = [
        (1, filler_a + " " + shared),
        (2, shared + " " + filler_b),
        (3, " ".join(f"c{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = winnow_pairs(
        df, "text", "doc_id", shingle_n=3, window=4, min_shared=1
    ).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    r = rows[0]
    assert r.n_common >= 1
    assert r.overlap_micro == round(r.n_common / min(r.n_a, r.n_b) * 1e6)


def test_chunk_documents_hand_computed(spark):
    from ontology_mapper_spark.operators.chunking import chunk_documents

    docs = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 words, N=4 S=3
        (2, "solo"),                                # 1 word -> one short chunk
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r.doc_id, r.chunk_idx): (r.start_tok, r.n_tok, r.chunk)
        for r in chunk_documents(df, max_tokens=4, stride=3).collect()
    }
    assert out == {
        (1, 0): (0, 4, "w0 w1 w2 w3"),
        (1, 1): (3, 4, "w3 w4 w5 w6"),
        (1, 2): (6, 4, "w6 w7 w8 w9"),
        (1, 3): (9, 1, "w9"),
        (2, 0): (0, 1, "solo"),
    }
    # full coverage: every token position appears in >= 1 chunk
    covered = set()
    for (d, _), (s, n, _) in out.items():
        if d == 1:
            covered.update(range(s, s + n))
    assert covered == set(range(10))
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, stride=5)


def test_pack_concat_split_matches_bruteforce(spark):
    import hashlib
    import random

    from ontology_mapper_spark.operators.chunking import pack_concat_split

    rng = random.Random(11)
    docs = [(i, " ".join("w" for _ in range(rng.randint(1, 50)))) for i in range(200)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    B, NS = 64, 8
    rows = {r.doc_id: r for r in pack_concat_split(
        df, seq_tokens=B, num_shards=NS).collect()}

    def shard_of(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % NS

    order = sorted(docs, key=lambda d: (shard_of(d[0]), d[0]))
    start = 0
    for doc_id, text in order:
        n = len(text.split())
        r = rows[doc_id]
        assert (r.n_tok, r.global_start) == (n, start), doc_id
        assert r.first_seq == start // B
        assert r.last_seq == (start + n - 1) // B
        assert r.n_seqs == r.last_seq - r.first_seq + 1
        start += n
    # the packed stream is gapless: total tokens == final cursor
    assert start == sum(len(t.split()) for _, t in docs)


def test_bpe_pair_counts_hand_computed(spark):
    """First BPE merge stats on a corpus small enough to count by hand,
    with a zipf-hot repeated word exercising the distinct-first path."""
    from ontology_mapper_spark.operators.textstats import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "low low low"), (2, "lower  Low"), (3, "")],
        "doc_id long, text string",
    )
    # vocab: low wf=4, lower wf=1
    # low   -> (l o) (o w) (w </w>)            each +4
    # lower -> (l o) (o w) (w e) (e r) (r </w>) each +1
    rows = {r["pair"]: (r["n"], r["rank"]) for r in bpe_pair_counts(df).collect()}
    assert rows["l o"] == (5, 1)
    assert rows["o w"] == (5, 2)
    assert rows["w </w>"] == (4, 3)
    assert rows["e r"] == (1, 4)
    assert rows["r </w>"][0] == 1
    assert rows["w e"][0] == 1
    assert len(rows) == 6

    # single-char word: the only pair is (c </w>)
    one = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(one).collect()}
    assert got == {"a </w>": 1}


def test_pagerank_micro_hand_computed(spark):
    """Integer PageRank semantics on graphs small enough to replay by
    hand; shuffled-join fallback must be bit-identical to broadcast."""
    from ontology_mapper_spark.operators.graph import pagerank_micro

    # 2-node swap cycle: perfectly symmetric, ranks stay at 1.0
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(cyc).collect()}
    assert got == {"a": 1_000_000, "b": 1_000_000}

    # star a->c, b->c: hub c accumulates, leaves hold the jump term
    star = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    # it1: a=b=150000, c = 150000 + 85*(1M+1M)//100... contrib each 1M
    # c1 = 150000 + (85*2000000)//100 = 1850000
    # it2: contribs come from a,b at 150000 each -> c = 150000+(85*300000)//100=405000
    # it3: same as it2 (a,b stable) -> c=405000
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(star).collect()}
    assert got == {"a": 150_000, "b": 150_000, "c": 405_000}

    # weighted split: a->b w=3, a->c w=1 — b gets 3/4 of a's mass
    wsp = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "src string, dst string, weight long"
    )
    r1 = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(wsp, weight_col="weight", iterations=1).collect()
    }
    assert r1 == {
        "a": 150_000,
        "b": 150_000 + (85 * ((1_000_000 * 3) // 4)) // 100,
        "c": 150_000 + (85 * ((1_000_000 * 1) // 4)) // 100,
    }

    # broadcast vs shuffled-join fallback: identical bits
    nb = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(star, broadcast_ranks=False).collect()
    }
    assert nb == got


def test_triangle_stats_hand_computed(spark):
    """K4 plus a pendant: every K4 corner closes all 3 of its wedge
    pairs (lcc=1); the pendant's neighbor loses closure."""
    from ontology_mapper_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    df = spark.createDataFrame(
        k4 + [("d", "e"), ("e", "d"), ("e", "e")],  # dup direction + self-loop cleaned
        "src string, dst string",
    )
    got = {r["node"]: (r["degree"], r["triangles"], r["lcc_micro"])
           for r in triangle_stats(df).collect()}
    assert got["a"] == (3, 3, 1_000_000)
    assert got["b"] == (3, 3, 1_000_000)
    assert got["c"] == (3, 3, 1_000_000)
    # d has degree 4 (K4 + pendant e), still 3 triangles: 2*3/(4*3)=0.5
    assert got["d"] == (4, 3, 500_000)
    assert got["e"] == (1, 0, 0)


def test_kmv_and_hll_sketch_accuracy(spark):
    """Sketch estimates land within standard error bounds of the true
    cardinality (KMV ~1/sqrt(k-2)≈9%, raw HLL ~1.04/sqrt(64)=13% — use
    3-sigma), and the <k fallback returns the exact count."""
    from ontology_mapper_spark.operators.sketch import hll_distinct, kmv_distinct

    n = 5000
    df = spark.range(n).select(
        F.lit("g").alias("g"), (F.col("id") * 7 + 13).alias("v")
    )
    kmv = kmv_distinct(df, ["g"], "v", k=128).collect()[0]
    assert kmv["n_exact"] == n
    assert abs(kmv["kmv_est"] - n) < 0.27 * n  # 3 * 1/sqrt(126)

    hll = hll_distinct(df, ["g"], "v", b=6).collect()[0]
    assert hll["n_exact"] == n
    assert abs(hll["hll_est"] - n) < 0.40 * n  # 3 * 1.04/sqrt(64)

    # duplicates don't move either sketch (set semantics)
    dup = df.union(df)
    kmv2 = kmv_distinct(dup, ["g"], "v", k=128).collect()[0]
    assert (kmv2["n_exact"], kmv2["kmv_est"]) == (kmv["n_exact"], kmv["kmv_est"])
    hll2 = hll_distinct(dup, ["g"], "v", b=6).collect()[0]
    assert (hll2["n_exact"], hll2["hll_est"]) == (hll["n_exact"], hll["hll_est"])

    # below-k group: estimate IS the exact count
    small = spark.createDataFrame(
        [("s", i) for i in range(10)], "g string, v long"
    )
    r = kmv_distinct(small, ["g"], "v", k=128).collect()[0]
    assert (r["n_exact"], r["kmv_est"]) == (10, 10)


def test_bm25_topk_ranking_properties(spark):
    """BM25 sanity on a hand-built corpus: matching docs only, rarer
    terms weigh more, longer docs are penalized, ties break by id."""
    from ontology_mapper_spark.operators.retrieval import bm25_topk

    docs = [
        (1, "hash join hash join hash"),       # tf-heavy on both terms
        (2, "hash scan scan scan"),            # one query term
        (3, "sort sort sort sort"),            # no query terms -> absent
        (4, "hash join"),                      # short doc, both terms
        (5, "hash join filler filler filler filler filler filler"),  # long
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = bm25_topk(df, ["hash", "join"], top_k=10).collect()
    ranked = [r["doc_id"] for r in rows]
    assert 3 not in ranked
    assert set(ranked) == {1, 2, 4, 5}
    score = {r["doc_id"]: r["score_micro"] for r in rows}
    # both-terms docs beat the single-term doc
    assert score[4] > score[2]
    # same tf, longer doc scores lower (length normalization)
    assert score[4] > score[5]
    # ranks are 1..n in score order
    assert [r["rank"] for r in rows] == [1, 2, 3, 4]
    assert sorted(score.values(), reverse=True) == [score[ranked[i]] for i in range(4)]


def test_burst_days_integer_rule(spark):
    """Burst iff n_day * n_active_days * den > num * n_total — checked
    against a hand-built calendar."""
    from ontology_mapper_spark.operators.temporal import burst_days

    rows = []
    for d, n in [("01", 10), ("02", 1), ("03", 1)]:
        rows += [("A", f"2024-03-{d} 12:00:00")] * n
    rows += [("B", "2024-03-01 12:00:00")] * 2 + [("B", "2024-03-02 12:00:00")] * 2
    df = spark.createDataFrame(rows, "event_type string, ts string").select(
        "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {(r["event_type"], r["day"]): (r["n"], r["n_days"], r["n_total"], r["is_burst"])
           for r in burst_days(df).collect()}
    # A: avg over active days = 4; 10*3 > 2*12 -> burst; 1*3 > 24 -> no
    assert got[("A", "2024-03-01")] == (10, 3, 12, True)
    assert got[("A", "2024-03-02")] == (1, 3, 12, False)
    assert got[("B", "2024-03-01")] == (2, 2, 4, False)


def test_khop_counts_path_graph(spark):
    """Path a-b-c-d: 2-hop frontiers exclude self and direct neighbors."""
    from ontology_mapper_spark.operators.graph import khop_counts

    df = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("c", "d")], "src string, dst string"
    )
    got = {r["node"]: (r["n_1hop"], r["n_2hop"]) for r in khop_counts(df).collect()}
    assert got == {"a": (1, 1), "b": (2, 1), "c": (2, 1), "d": (1, 1)}


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    """A-ES: k>=n returns everything; a crushing weight wins rank 1;
    identical calls give identical bits."""
    from ontology_mapper_spark.operators.split import weighted_sample

    df = spark.createDataFrame(
        [(i, 1 if i else 10**9) for i in range(20)], "doc_id long, w long"
    )
    r1 = weighted_sample(df, "w", "doc_id", k=50).collect()
    assert len(r1) == 20 and [r["rank"] for r in r1] == list(range(1, 21))
    assert r1[0]["doc_id"] == 0  # the heavy row wins
    r2 = weighted_sample(df, "w", "doc_id", k=50).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    # different salt -> different (but still deterministic) order among the light rows
    r3 = weighted_sample(df, "w", "doc_id", k=50, salt="s").collect()
    assert [r["doc_id"] for r in r3] != [r["doc_id"] for r in r1]


def test_rrf_fuse_hand_computed(spark):
    """RRF merges two ranked lists: doc in both lists beats docs in one;
    per-term micro values match round(1e6/(60+rank))."""
    from ontology_mapper_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (4, 2)], "doc_id long, rank long")
    rows = rrf_fuse([a, b], top_k=10).collect()
    got = {r["doc_id"]: (r["rrf_micro"], r["n_rankers"], r["rank"]) for r in rows}
    r = lambda k: round(1e6 / (60 + k))
    assert got[3] == (r(3) + r(1), 2, 1)      # in both lists -> wins
    assert got[1] == (r(1), 1, 2)
    assert got[2] == (r(2), 1, 3)             # ties with 4; id asc wins
    assert got[4] == (r(2), 1, 4)


def test_sessionize_native_gap_boundary(spark):
    """session_window semantics (pinned): an event at exactly start+gap
    MERGES into the session; strictly past it opens a new one."""
    from ontology_mapper_spark.operators.temporal import sessionize_native

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:29:59"),            # inside -> same session
            (1, "2024-01-01 00:59:59"),            # exactly 30:00 after -> merges
            (1, "2024-01-01 01:29:59.000001"),     # 1us past the gap -> NEW
            (2, "2024-01-01 00:00:00"),
            (2, "2024-01-01 00:30:00"),            # exactly the gap -> merges
        ],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    rows = sorted(
        sessionize_native(df, gap="30 minutes").collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert [(r["user_id"], r["n_events"]) for r in rows] == [
        (1, 3), (1, 1), (2, 2)
    ]
    assert rows[0]["session_last"] == "2024-01-01 00:59:59.000000"
    assert rows[1]["session_start"] == "2024-01-01 01:29:59.000001"


def test_tfidf_top_terms_hand_computed(spark):
    """A term appearing in every doc has idf 0; doc-specific terms rank
    by tf*ln(N/df)."""
    import math

    from ontology_mapper_spark.operators.retrieval import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common rare rare"), (2, "common other")],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(df, top_k=3).collect()
    got = {(r["doc_id"], r["term"]): (r["score_micro"], r["rank"]) for r in rows}
    ln2 = math.log(2.0)
    assert got[(1, "rare")] == (round(2 * ln2 * 1e6), 1)
    assert got[(1, "common")] == (0, 2)
    assert got[(2, "other")] == (round(1 * ln2 * 1e6), 1)
    assert got[(2, "common")] == (0, 2)


def test_grouped_quantiles_exact_and_percent_guard(spark):
    """Type-1 quantiles return actual data values at ceil(p*n/100)."""
    import pytest as _pytest

    from ontology_mapper_spark.operators.textstats import grouped_quantiles

    df = spark.createDataFrame(
        [("g", i, i * 10) for i in range(1, 11)], "g string, doc_id long, v long"
    )
    r = grouped_quantiles(df, ["g"], "v", (0.5, 0.9, 0.99), "doc_id").collect()[0]
    # n=10: ranks ceil(5)=5, ceil(9)=9, ceil(9.9)=10
    assert (r["n"], r["q50"], r["q90"], r["q99"]) == (10, 50, 90, 100)
    with _pytest.raises(ValueError):
        grouped_quantiles(df, ["g"], "v", (0.123,), "doc_id")


def test_deterministic_walks_structure(spark):
    """Walks are edge-respecting, deterministic, and stop at sinks."""
    from ontology_mapper_spark.operators.graph import deterministic_walks

    # a -> b -> c ; c is a sink
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    rows = deterministic_walks(df, walk_len=3).collect()
    walks = {}
    for r in rows:
        walks.setdefault(r["start"], {})[r["step"]] = r["node"]
    # only one path exists from each node; sinks stop early
    assert walks["a"] == {0: "a", 1: "b", 2: "c"}
    assert walks["b"] == {0: "b", 1: "c"}
    assert walks["c"] == {0: "c"}
    again = deterministic_walks(df, walk_len=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_link_prediction_scores_square(spark):
    """4-cycle a-b-c-d: the two diagonals are the only predicted links,
    each with 2 common neighbors of degree 2."""
    import math

    from ontology_mapper_spark.operators.graph import link_prediction_scores

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    rows = link_prediction_scores(df, min_common=2).collect()
    got = {(r["node_a"], r["node_b"]): r for r in rows}
    assert set(got) == {("a", "c"), ("b", "d")}
    r = got[("a", "c")]
    assert r["n_common"] == 2
    # jaccard = 2 / (2 + 2 - 2) = 1.0
    assert r["jaccard_micro"] == 1_000_000
    assert r["adamic_adar_micro"] == 2 * round(1e6 / math.log(2.0))


def test_transitive_closure_dag_min_depth_and_cycle(spark):
    from ontology_mapper_spark.operators.graph import transitive_closure

    # diamond DAG: 1->2->4, 1->3->4, plus shortcut 1->4 (min depth wins)
    dag = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (4, 3), (4, 1)], "child long, parent long"
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(dag).collect()
    }
    assert got == {(2, 1): 1, (3, 1): 1, (4, 2): 1, (4, 3): 1, (4, 1): 1}

    # chain of 9 -> depths up to 8, doubling needs 3 rounds
    chain = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 9)], "child long, parent long"
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(chain).collect()
    }
    assert len(got) == 8 * 9 // 2
    assert got[(8, 0)] == 8 and got[(8, 7)] == 1 and got[(5, 2)] == 3

    # 3-cycle converges to its finite pair set with min depths
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "child long, parent long"
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in transitive_closure(cyc).collect()
    }
    assert len(got) == 6
    assert got[(1, 2)] == 1 and got[(1, 3)] == 2


def test_merge_dup_spans_islands(spark):
    from ontology_mapper_spark.operators.dedup import merge_dup_spans

    # "a b c d" trigrams: "a b c" and "b c d" both duplicated across the
    # two docs -> intervals [1,3],[2,4] merge into one span 1..4; the
    # unique tail "x y z" in doc 3 contributes nothing.
    df = spark.createDataFrame(
        [
            (1, "a b c d q r s t u a b c d"),
            (2, "a b c d"),
            (3, "x y z w v u t"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["span_len"]
        for r in merge_dup_spans(df, ngram_n=3, min_count=2).collect()
    }
    # doc 1: positions 1-4 and 10-13 duplicated ("a b c d" twice corpus-
    # wide); doc 2: the whole doc.
    assert got == {(1, 1, 4): 4, (1, 10, 13): 4, (2, 1, 4): 4}


def test_blocked_linkage_scoring(spark):
    from ontology_mapper_spark.operators.linkage import blocked_linkage

    a = spark.createDataFrame(
        [(1, "x", "ann", 10), (2, "x", "bob", 20), (3, "y", "cat", 30)],
        "id long, blk string, name string, bkt long",
    )
    b = spark.createDataFrame(
        [(11, "x", "ann", 10), (12, "x", "ann", 99), (13, "y", "dog", 30)],
        "id long, blk string, name string, bkt long",
    )
    rows = blocked_linkage(
        a, b, "id", ["blk"], {"name": (4000, -1000), "bkt": (1500, -500)}, 3000
    ).collect()
    got = {(r["id_a"], r["id_b"]): (r["agree_name"], r["agree_bkt"], r["score"])
           for r in rows}
    # (1,11) full agree 5500; (1,12) name-only 3500; bob/cat/dog pairs
    # never reach 3000; cross-block pairs never produced.
    assert got == {(1, 11): (1, 1, 5500), (1, 12): (1, 0, 3500)}


def test_label_propagation_two_cliques(spark):
    from ontology_mapper_spark.operators.graph import label_propagation

    # Two triangles joined by one bridge edge (3-4). Synchronous LPA
    # with min-label tie-break converges by round 3: the left triangle
    # takes label 1; the right triangle takes label 3 — bridge node 4
    # picked up 3 (its min neighbor) in round 1 and that label wins the
    # plurality inside the right triangle thereafter. Hand-traced; the
    # fixed point is stable (round 4 == round 3).
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    converged = {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    for rounds in (3, 4):
        got = {r["node"]: r["label"]
               for r in label_propagation(df, rounds=rounds).collect()}
        assert got == converged, rounds


def test_kcore_peel_converges(spark):
    from ontology_mapper_spark.operators.graph import kcore_peel

    # K4 on {1..4} plus a tail 4-5-6: the tail peels off in two rounds
    # (6 first, then 5), leaving the clique where everyone has degree 3.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["degree"]
           for r in kcore_peel(df, k=3, rounds=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # fixpoint: one more round changes nothing
    again = {r["node"]: r["degree"]
             for r in kcore_peel(df, k=3, rounds=4).collect()}
    assert again == got


def test_hits_micro_star(spark):
    from ontology_mapper_spark.operators.graph import hits_micro

    # star: 1->2, 1->3, 1->4 — node 1 is the only hub (1e6), targets are
    # equal authorities pinned at 1e6 each (max-norm), hub-score 0.
    edges = [(1, 2), (1, 3), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub_micro"], r["auth_micro"])
           for r in hits_micro(df, iterations=2).collect()}
    assert got == {1: (1_000_000, 0), 2: (0, 1_000_000),
                   3: (0, 1_000_000), 4: (0, 1_000_000)}


def test_temperature_mix_quotas(spark):
    from ontology_mapper_spark.operators.split import temperature_mix

    # source a: 4 rows of size 100 (w=isqrt(400)=20); source b: 1 row of
    # size 100 (w=10). quotas of target 9: a gets 9*20//30=6 -> capped at
    # its 4 rows; b gets 9*10//30=3 -> capped at its 1 row.
    rows = [("a", i, 100) for i in range(4)] + [("b", 99, 100)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    got = temperature_mix(df, "source", "doc_id", "n_chars", target_total=9)
    by_src = {r["source"]: r for r in
              got.groupBy("source").count().collect()}
    assert by_src["a"]["count"] == 4 and by_src["b"]["count"] == 1
    quotas = {r["source"]: r["quota"] for r in got.collect()}
    assert quotas == {"a": 6, "b": 3}
