"""Semantic tests for the round-5 wave qd29-qd34 operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontology_mapper_spark.operators.classify import stump_split_gain
from ontology_mapper_spark.operators.dq import selfjoin_cardinality_audit
from ontology_mapper_spark.operators.split import group_fold_audit
from ontology_mapper_spark.operators.stats import icc_agreement
from ontology_mapper_spark.operators.temporal import (
    funnel_segment_ztest,
    watermark_lateness,
)


def test_icc_perfect_agreement_is_one(spark):
    rows = [(i, j, 10 * i) for i in range(1, 9) for j in (1, 2, 3)]
    df = spark.createDataFrame(rows, "i long, j long, x long")
    r = icc_agreement(df, "i", "j", "x").collect()[0]
    assert r["icc1_milli"] == 1000
    assert r["icc21_milli"] == 1000
    assert r["n_subjects"] == 8 and r["k_raters"] == 3


def test_icc_rater_offset_hurts_icc21_less_than_icc1(spark):
    # rater 3 systematically +5: consistency survives, absolute
    # agreement drops; ICC(2,1) models the rater effect separately so
    # it stays ABOVE one-way ICC(1,1), which folds the offset into
    # error.
    rows = [
        (i, j, 10 * i + (5 if j == 3 else 0))
        for i in range(1, 9)
        for j in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "i long, j long, x long")
    r = icc_agreement(df, "i", "j", "x").collect()[0]
    assert r["icc1_milli"] < 1000
    assert r["icc21_milli"] < 1000
    assert r["icc21_milli"] >= r["icc1_milli"]


def test_watermark_lateness_counts_late_rows(spark):
    # arrival order o; the ts=100 row arrives AFTER ts=200 -> 100s late
    rows = [
        (1, 1, 0),
        (1, 2, 200),
        (1, 3, 100),  # 100 s late
        (1, 4, 300),
        (2, 5, 50),
        (2, 6, 40),  # 10 s late
    ]
    df = spark.createDataFrame(rows, "k long, o long, s long").select(
        "k", "o", F.timestamp_seconds(F.col("s")).alias("ts")
    )
    out = {
        r["delay_s"]: r
        for r in watermark_lateness(
            df, "k", "ts", "o", delays_s=(0, 30, 120)
        ).collect()
    }
    assert out[0]["n_late"] == 2
    assert out[30]["n_late"] == 1  # only the 100s-late row exceeds 30s
    assert out[120]["n_late"] == 0
    assert out[0]["max_lateness_s"] == 100
    assert out[0]["n_rows"] == 6


def test_funnel_ztest_identical_segments_z_zero(spark):
    # two users per segment with identical view->click paths
    rows = []
    for u in (2, 4, 1, 3):
        rows += [(u, "view", 10), (u, "click", 20)]
    df = spark.createDataFrame(rows, "user_id long, t string, s long").select(
        "user_id",
        F.col("t").alias("event_type"),
        F.timestamp_seconds(F.col("s")).alias("ts"),
    )
    out = {
        r["step_name"]: r
        for r in funnel_segment_ztest(
            df, "user_id", "event_type", "ts", ["view", "click"]
        ).collect()
    }
    assert out["view"]["z_milli"] is None  # all users reach: degenerate
    assert out["click"]["z_milli"] is None
    assert out["view"]["rate_a_micro"] == 1_000_000
    assert out["view"]["rate_b_micro"] == 1_000_000


def test_funnel_ztest_detects_segment_gap(spark):
    # segment A (even) converts view->click, segment B never clicks
    rows = []
    for u in (2, 4, 6, 8, 10, 12, 14, 16):
        rows += [(u, "view", 10), (u, "click", 20)]
    for u in (1, 3, 5, 7, 9, 11, 13, 15):
        rows += [(u, "view", 10)]
    df = spark.createDataFrame(rows, "user_id long, t string, s long").select(
        "user_id",
        F.col("t").alias("event_type"),
        F.timestamp_seconds(F.col("s")).alias("ts"),
    )
    out = {
        r["step_name"]: r
        for r in funnel_segment_ztest(
            df, "user_id", "event_type", "ts", ["view", "click"]
        ).collect()
    }
    assert out["click"]["reach_a"] == 8 and out["click"]["reach_b"] == 0
    assert out["click"]["z_milli"] > 0
    assert out["click"]["significant"]


def test_group_fold_audit_no_leakage_and_shares(spark):
    rows = [(g, "t%d" % (g % 2), i) for g in range(200) for i in range(3)]
    df = spark.createDataFrame(rows, "g long, s string, i long")
    out = group_fold_audit(df, "g", "s", k=4).collect()
    assert len(out) == 4
    assert all(r["n_split_groups"] == 0 for r in out)
    assert sum(r["n_rows"] for r in out) == 600
    # every row of a group shares the fold -> group sizes divide rows
    assert all(r["n_rows"] == 3 * r["n_groups"] for r in out)


def test_stump_split_gain_perfect_separator(spark):
    # feature < 50 => False, >= 50 => True; the cut at 49 is perfect
    rows = [(i, i >= 50) for i in range(100)]
    df = spark.createDataFrame(rows, "v long, y boolean")
    out = {r["cut_value"]: r for r in stump_split_gain(df, "v", "y").collect()}
    # parent impurity = 2*0.5*0.5 = 0.5; perfect cut removes all of it
    assert out[49]["gain_micro"] == 500_000
    assert out[99]["gain_micro"] is None  # empty right side
    assert all(
        r["gain_micro"] is None or r["gain_micro"] <= 500_000
        for r in out.values()
    )


def test_selfjoin_cardinality_uniform_vs_skewed(spark):
    uni = spark.createDataFrame(
        [(k, i) for k in range(10) for i in range(5)], "k long, i long"
    )
    r = selfjoin_cardinality_audit(uni, "k").collect()[0]
    assert r["actual_pairs"] == 10 * 25
    assert r["est_pairs"] == 50 * 50 // 10
    assert r["err_ratio_milli"] == 1000  # uniform: estimate exact
    skew = spark.createDataFrame(
        [(0, i) for i in range(41)] + [(k, 0) for k in range(1, 10)],
        "k long, i long",
    )
    r2 = selfjoin_cardinality_audit(skew, "k").collect()[0]
    assert r2["actual_pairs"] == 41 * 41 + 9
    assert r2["err_ratio_milli"] > 1000  # skew: uniform estimate low
    assert r2["topk_share_micro"] > 990_000


def test_shuffle_partition_advisor_small_table(spark):
    from ontology_mapper_spark.operators.skew import shuffle_partition_advisor

    df = spark.createDataFrame(
        [(k, "x" * 10) for k in range(20)], "k long, s string"
    )
    r = shuffle_partition_advisor(df, "k", target_mb=128).collect()[0]
    assert r["n_rows"] == 20 and r["n_keys"] == 20
    assert r["est_bytes"] == 20 * (8 + 10)
    assert r["partitions_by_bytes"] == 1
    assert r["recommended_partitions"] == 1
    assert r["straggler_ratio_milli"] == 0


def test_hash_bucket_skew_sim_single_hot_key(spark):
    from ontology_mapper_spark.operators.skew import hash_bucket_skew_sim

    df = spark.createDataFrame(
        [(0, i) for i in range(95)] + [(k, 0) for k in range(1, 6)],
        "k long, i long",
    )
    out = {
        r["partitions"]: r
        for r in hash_bucket_skew_sim(
            df, "k", partitions_grid=(4, 64)
        ).collect()
    }
    # the 95-row key dominates whatever bucket it lands in
    assert out[4]["max_bucket_rows"] >= 95
    assert out[64]["max_bucket_rows"] == 95
    assert out[64]["n_buckets_over"] >= 1  # 95*64 > 5*100
    assert out[64]["skew_ratio_milli"] == round(95 * 64 * 1000 / 100)


def test_state_size_projection_exact_grid(spark):
    from ontology_mapper_spark.operators.temporal import state_size_projection

    rows = [(k, 60 * m) for m in range(10) for k in (1, 2)]
    df = spark.createDataFrame(rows, "k long, s long").select(
        "k", F.timestamp_seconds(F.col("s")).alias("ts")
    )
    out = {
        r["window_len_s"]: r
        for r in state_size_projection(
            df, "k", "ts", window_lens_s=(60, 600)
        ).collect()
    }
    assert out[60]["n_windows"] == 10
    assert out[60]["max_keys"] == 2
    assert out[60]["total_state_rows"] == 20
    assert out[600]["n_windows"] == 1
    assert out[600]["max_keys"] == 2
    assert out[600]["avg_keys_micro"] == 2_000_000


def test_aa_uniformity_balanced_is_uniform(spark):
    from ontology_mapper_spark.operators.stats import aa_uniformity_check

    # constant success rate: chi2 ~ small, uniform_ok
    df = spark.createDataFrame(
        [(u, 1 if u % 10 == 0 else 0) for u in range(2000)],
        "u long, x long",
    )
    r = aa_uniformity_check(df, "u", "x", n_buckets=16).collect()[0]
    assert r["n_units"] == 2000
    assert r["df"] == 15
    assert r["uniform_ok"]


def test_aa_uniformity_catches_broken_bucket(spark):
    from ontology_mapper_spark.operators.stats import aa_uniformity_check
    from pyspark.sql import functions as FF

    # success correlated with the SAME md5 bucket function = broken A/A
    h = FF.conv(
        FF.substring(
            FF.md5(FF.concat_ws("|", FF.lit("aa"), FF.col("u").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    df = (
        spark.range(2000)
        .select(FF.col("id").alias("u"))
        .select("u", (FF.pmod(h, FF.lit(16)) == 0).cast("long").alias("x"))
    )
    r = aa_uniformity_check(df, "u", "x", n_buckets=16).collect()[0]
    assert not r["uniform_ok"]
    assert r["chi2_milli"] > 24996


def test_mde_curve_monotone_and_feasibility(spark):
    from ontology_mapper_spark.operators.stats import mde_sample_size_curve

    df = spark.createDataFrame(
        [(u, 1 if u % 5 == 0 else 0) for u in range(1000)], "u long, x long"
    )
    out = {
        r["rel_effect_micro"]: r
        for r in mde_sample_size_curve(df, "u", "x").collect()
    }
    assert out[50_000]["baseline_micro"] == 200_000
    # bigger detectable effect -> smaller n
    ns = [out[k]["n_per_arm"] for k in (50_000, 100_000, 200_000, 500_000)]
    assert ns == sorted(ns, reverse=True)
    assert not out[50_000]["feasible"]  # 5% rel effect needs >> 500/arm


def test_cluster_source_mix_reconciles(spark):
    from ontology_mapper_spark.operators.dedup import cluster_source_mix

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "doc_id long, source string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_rep long"
    )
    out = {
        (r["cluster_size"], r["n_sources"]): r
        for r in cluster_source_mix(docs, clusters).collect()
    }
    # cluster 1 = docs 1,2,3 (a,a,b): size 3, 2 sources, majority 2
    r = out[(3, 2)]
    assert r["majority_docs"] == 2 and r["purity_micro"] == 666_667
    # singletons 4 and 5 each their own cluster
    assert out[(1, 1)]["n_clusters"] == 2
    # totals reconcile to the corpus
    assert sum(r["n_docs"] for r in out.values()) == 5


def test_yuen_ttest_symmetric_and_shift(spark):
    from ontology_mapper_spark.operators.stats import yuen_trimmed_ttest

    rows = [("a", v) for v in range(1, 101)] + [("b", v) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = yuen_trimmed_ttest(df, "g", "v", "a", "b").collect()[0]
    assert r["t_milli"] == 0  # identical samples
    assert r["tmean_a_milli"] == r["tmean_b_milli"]
    # shift group b up by 50: strongly negative t, outlier-immune
    rows2 = [("a", v) for v in range(1, 101)] + [
        ("b", v + 50) for v in range(1, 101)
    ]
    df2 = spark.createDataFrame(rows2, "g string, v long")
    r2 = yuen_trimmed_ttest(df2, "g", "v", "a", "b").collect()[0]
    assert r2["t_milli"] < -3000
    # one huge outlier in group a barely moves the trimmed mean
    rows3 = rows2 + [("a", 10_000_000)]
    df3 = spark.createDataFrame(rows3, "g string, v long")
    r3 = yuen_trimmed_ttest(df3, "g", "v", "a", "b").collect()[0]
    assert abs(r3["tmean_a_milli"] - r2["tmean_a_milli"]) < 2000


def test_qd44_qd45_contract_sanity(spark):
    from ontology_mapper_spark.contract import QUERIES

    r = QUERIES["qd44_transition_drift"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert r["n_transition_types"] >= 1
    assert r["df"] == r["n_transition_types"] - 1
    assert r["chi2_milli"] >= 0
    rows = QUERIES["qd45_seasonal_anomaly"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 30  # one per calendar day
    # residuals of a dow-mean fit sum to ~0 within rounding
    assert abs(sum(x["resid_milli"] for x in rows)) <= len(rows)


def test_qd46_split_parity_reconciles(spark):
    from ontology_mapper_spark.contract import QUERIES

    rows = QUERIES["qd46_split_parity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r["n_train"] + r["n_holdout"] for r in rows) == 500
    # shares sum to ~1e6 on each side (rounding slack <= n_cells)
    assert abs(sum(r["share_train_micro"] for r in rows) - 1_000_000) <= len(rows)
    assert abs(sum(r["share_holdout_micro"] for r in rows) - 1_000_000) <= len(rows)
    # PSI cells are non-negative by construction ((p-q) and ln(p/q)
    # share sign); allow tiny negative from micro rounding
    assert all(
        r["psi_cell_micro"] is None or r["psi_cell_micro"] >= -1
        for r in rows
    )



def test_qd46_psi_cell_nonzero_on_skewed_split(spark, tmp_path):
    """A split that breaks the language mix must show a nonzero PSI cell
    in micro units (both engines once divided by 1e12, which rounded
    every realistic cell to 0 and passed the hash gate anyway)."""
    import hashlib
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontology_mapper_spark.contract import QUERIES

    def is_train(doc_id):  # the query's md5 rule
        return hashlib.md5(f"|{doc_id}".encode()).hexdigest()[:8] < "cccccccd"

    ids = list(range(400))
    # train docs are 3/4 'en', holdout docs 1/4 'en': the mix is skewed
    langs = ["en" if is_train(i) == (i % 4 != 0) else "de" for i in ids]
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "lang": langs}),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r["lang"]: r
        for r in QUERIES["qd46_split_parity"](spark, str(tmp_path)).collect()
    }
    n_tr = sum(r["n_train"] for r in rows.values())
    n_ho = sum(r["n_holdout"] for r in rows.values())
    for lang, r in rows.items():
        p, q = r["n_train"] / n_tr, r["n_holdout"] / n_ho
        want = (p - q) * math.log(p / q) * 1_000_000
        assert abs(r["psi_cell_micro"] - want) <= 2_000, (lang, r, want)
        assert r["psi_cell_micro"] > 100_000


def test_qd47_qd48_semantics(spark):
    from ontology_mapper_spark.contract import QUERIES

    rows = QUERIES["qd47_tukey_fences"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(r["q1"] <= r["q3"] for r in rows)
    assert all(r["n_low"] + r["n_high"] <= r["n"] for r in rows)
    # zero-run semantics on a crafted frame: type 'a' missing 3
    # CONSECUTIVE days plus one isolated day -> longest run 3, 4 zero days
    from pyspark.sql import functions as FF

    from ontology_mapper_spark.operators import __name__ as _  # noqa
    rows2 = []
    for d in range(1, 11):
        if d not in (3, 4, 5, 8):
            rows2.append(("a", d))
        rows2.append(("b", d))
    df = spark.createDataFrame(rows2, "event_type string, d long").select(
        "event_type",
        FF.timestamp_seconds(FF.col("d") * 86400).alias("ts"),
    )
    import ontology_mapper_spark.contract as C

    # reuse the query body by mimicking its plan on the crafted frame
    day = FF.date_format(FF.col("ts").cast("timestamp"), "yyyy-MM-dd")
    days = df.select(day.alias("day")).distinct()
    types = df.select(FF.col("event_type").alias("t")).distinct()
    daily = df.select(
        FF.col("event_type").alias("t"), day.alias("day")
    ).groupBy("t", "day").agg(FF.count("*").alias("n"))
    from pyspark.sql import Window as W

    wg = W.partitionBy("t").orderBy("day")
    grid = (
        types.crossJoin(days)
        .join(daily, ["t", "day"], "left")
        .select(
            "t", "day",
            FF.coalesce(FF.col("n"), FF.lit(0)).alias("n"),
            FF.row_number().over(wg).alias("di"),
        )
    )
    wz = W.partitionBy("t").orderBy("di")
    zeros = grid.where(FF.col("n") == 0).select(
        "t", (FF.col("di") - FF.row_number().over(wz)).alias("grp")
    )
    runs = zeros.groupBy("t", "grp").agg(FF.count("*").alias("run_len"))
    out = {r["t"]: r["ml"] for r in
           runs.groupBy("t").agg(FF.max("run_len").alias("ml")).collect()}
    assert out == {"a": 3}
