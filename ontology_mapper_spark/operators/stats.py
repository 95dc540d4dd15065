"""Distribution statistics for corpus monitoring: Shannon entropy,
Kolmogorov-Smirnov drift, Gini concentration.

A 100 TB training pipeline tracks its corpus like a production system:
per-source token entropy (diversity collapse = contamination or a
scraper bug), KS drift between a segment's metric distribution and the
global one (did this week's crawl change shape?), and Gini
concentration of size over sources (is one domain eating the mix?).

All three follow the repo's exactness discipline (contract.py header):
counts and cross-multiplied comparisons stay bigint end-to-end;
logarithms are micro-fixed-point, taken ONCE per distinct integer
count (the q66 perplexity trick); each output has at most one IEEE
division, rounded to micros immediately.  Hash-exact vs DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def _ln_micro(col: F.Column) -> F.Column:
    """round(ln(x)*1e6) as bigint — one ln per row it's applied to."""
    return F.round(F.log(col.cast("double")) * MICRO).cast("long")


def token_entropy(df: DataFrame, group_col: str, token_col: str) -> DataFrame:
    """Per-group Shannon entropy of the token distribution, in micro-nats.

    H = ln(T) − (Σ c·ln c)/T over token counts c, total T.  Σ c·ln_micro(c)
    is an INTEGER sum (ln taken once per (group, token) count row — the
    distinct-first shuffle already paid for counting); the single
    division happens at the end.  Also emits type/token counts.
    """
    counts = df.groupBy(group_col, token_col).agg(F.count("*").alias("c"))
    per = counts.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("c") * _ln_micro(F.col("c"))).cast("long").alias("_s"),
    )
    return per.select(
        group_col,
        "n_tokens",
        "n_types",
        F.round(
            (
                _ln_micro(F.col("n_tokens")) * F.col("n_tokens") - F.col("_s")
            ).cast("double")
            / F.col("n_tokens")
        )
        .cast("long")
        .alias("entropy_micro"),
    )


def ks_drift(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample KS statistic of each group's `value_col` distribution
    against the GLOBAL distribution, exact.

    D = max over distinct values x of |F_grp(x) − F_all(x)|, compared as
    cross-multiplied integers: |cum_g·n_all − cum_all·n_g| with
    denominator n_g·n_all.  One value-distinct aggregation, cumulative
    counts via windows ordered by value (total order: value is a key
    after the distinct), single rounding division at the end.
    """
    g = df.select(F.col(group_col).alias("_g"), F.col(value_col).alias("_v"))
    # per (group, value) and (value) counts
    gv = g.groupBy("_g", "_v").agg(F.count("*").alias("c_g"))
    av = g.groupBy("_v").agg(F.count("*").alias("c_all"))
    totals = g.groupBy("_g").agg(F.count("*").cast("long").alias("n_g"))
    n_all = g.count()

    # evaluate F at every distinct value per group: need the full value
    # grid per group (a group missing a value still steps F_all there)
    grid = gv.select("_g").distinct().crossJoin(av.select("_v"))
    full = (
        grid.join(gv, ["_g", "_v"], "left")
        .join(av, "_v")
        .select("_g", "_v", F.coalesce("c_g", F.lit(0)).alias("c_g"), "c_all")
    )
    w_g = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = full.select(
        "_g",
        "_v",
        F.sum("c_g").over(w_g).cast("long").alias("cum_g"),
        F.sum("c_all").over(w_g).cast("long").alias("cum_all"),
    )
    per = (
        cum.join(totals, "_g")
        .select(
            "_g",
            "n_g",
            F.abs(
                F.col("cum_g") * F.lit(n_all) - F.col("cum_all") * F.col("n_g")
            ).alias("_d"),
        )
        .groupBy("_g", "n_g")
        .agg(F.max("_d").cast("long").alias("ks_num"))
    )
    return per.select(
        F.col("_g").alias(group_col),
        "n_g",
        "ks_num",
        F.round(
            F.col("ks_num").cast("double") * MICRO / (F.col("n_g") * F.lit(n_all))
        )
        .cast("long")
        .alias("ks_micro"),
    )


def gini_concentration(
    df: DataFrame, group_col: str, size_col: str, tie_col: str
) -> DataFrame:
    """Per-group Gini coefficient of `size_col`, exact integers.

    With sizes x_(1) ≤ … ≤ x_(n) (total order: size then `tie_col`),
    G = (2·Σ i·x_(i) − (n+1)·Σ x) / (n·Σ x) — both Σ are bigint; the
    single division is rounded to micros.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(size_col), F.col(tie_col))
    ranked = df.select(
        group_col,
        F.col(size_col).cast("long").alias("_x"),
        F.row_number().over(w).cast("long").alias("_i"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_x").cast("long").alias("s0"),
        F.sum(F.col("_i") * F.col("_x")).cast("long").alias("s1"),
    )
    return agg.select(
        group_col,
        "n",
        "s0",
        F.round(
            (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")).cast("double")
            * MICRO
            / (F.col("n") * F.col("s0"))
        )
        .cast("long")
        .alias("gini_micro"),
    )


def cohens_kappa(
    df: DataFrame, group_col: str, a_col: str, b_col: str
) -> DataFrame:
    """Per-group Cohen's kappa between two label columns — the standard
    chance-corrected agreement monitor (declared metadata vs a
    heuristic classifier, two annotators, model vs model).

    Integer-exact form: from the (group, a, b) contingency cells with
    bigint counts, po − pe over 1 − pe cancels to

        kappa = (n·agree − Σ_k row_k·col_k) / (n² − Σ_k row_k·col_k)

    so numerator and denominator are exact bigints and the ONE IEEE
    division happens at the end (null when the denominator is 0, i.e.
    degenerate marginals).  Scale: the doc-level shuffle is a single
    map-side-combined groupBy; everything after runs on ≤|groups|·|labels|²
    cells, so marginal joins are trivially broadcastable.
    """
    cells = (
        df.groupBy(group_col, a_col, b_col)
        .agg(F.count("*").cast("long").alias("c"))
    )
    totals = cells.groupBy(group_col).agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.when(F.col(a_col) == F.col(b_col), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_agree"),
    )
    # rename the category to a shared key so the marginal join needs no
    # self-join column disambiguation (cells feeds both sides)
    rows = cells.groupBy(group_col, F.col(a_col).alias("_k")).agg(
        F.sum("c").cast("long").alias("_r")
    )
    cols = cells.groupBy(group_col, F.col(b_col).alias("_k")).agg(
        F.sum("c").cast("long").alias("_c")
    )
    pe = (
        rows.join(cols, [group_col, "_k"], "inner")
        .select(group_col, (F.col("_r") * F.col("_c")).alias("_rc"))
        .groupBy(group_col)
        .agg(F.sum("_rc").cast("long").alias("pe_num"))
    )
    out = totals.join(pe, group_col, "left").na.fill({"pe_num": 0})
    num = F.col("n_docs") * F.col("n_agree") - F.col("pe_num")
    den = F.col("n_docs") * F.col("n_docs") - F.col("pe_num")
    return out.select(
        group_col,
        "n_docs",
        "n_agree",
        "pe_num",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("kappa"),
    )


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Mann-Whitney U (one group vs the rest of the corpus) per group,
    with the AUC / common-language effect size — the nonparametric
    "does this source's metric distribution differ?" test.

    Scale-correct ranking: never rank ROWS globally.  Ranks come from
    the VALUE HISTOGRAM — per distinct value, the doubled midrank
    2·cum_before + c + 1 is an exact integer (doubling absorbs the .5
    of tie midranks), so the only global window runs over distinct
    values (vocabulary-sized), and every per-group term is a bigint:

        U2_a = Σ_v c_a(v)·dmid(v) − n_a·(n_a+1)     (= 2·U_a)
        auc_micro = round(1e6 · U2_a / (2·n_a·n_b))

    One division per row, terminal.  auc ≈ 0.5 means "same
    distribution"; 0/1 means total separation.
    """
    vc = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w = Window.orderBy("_v")
    ranked = vc.select(
        "_v",
        "_c",
        (
            2 * (F.sum("_c").over(w) - F.col("_c")) + F.col("_c") + 1
        ).alias("_dmid"),
    )
    gv = df.groupBy(F.col(group_col), F.col(value_col).alias("_v")).agg(
        F.count("*").cast("long").alias("_ca")
    )
    terms = gv.join(ranked, "_v").groupBy(group_col).agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum(F.col("_ca") * F.col("_dmid")).cast("long").alias("_rsum2"),
    )
    total = df.groupBy().agg(F.count("*").cast("long").alias("_n"))
    out = terms.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_a",
        (F.col("_n") - F.col("n_a")).alias("n_b"),
        (F.col("_rsum2") - F.col("n_a") * (F.col("n_a") + 1)).alias("u2"),
    )
    return out.withColumn(
        "auc_micro",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                (F.col("u2") * 1_000_000).cast("double")
                / (2 * F.col("n_a") * F.col("n_b"))
            ).cast("long"),
        ),
    )


def kl_divergence(
    df: DataFrame,
    group_col: str,
    token_col: str,
) -> DataFrame:
    """Per-group KL divergence of the group's token distribution from the
    corpus token distribution, in integer micro-nats — the drift monitor
    that catches a source whose vocabulary shifted even when entropy
    (token_entropy) stayed flat.

    KL(p_g || p_c) = sum_w (n_gw/T_g) * ln((n_gw * T) / (T_g * n_w)); only
    words the group actually uses contribute (p=0 terms vanish), so the
    sum runs over the (group, token) count rows the counting shuffle
    already produced.  Per-row ln is taken ONCE per distinct (group,
    token) as round(ln(ratio)*1e6) — the ratio is a single division of
    two exact integer products (exact while n_gw*T < 2^53, i.e. corpus
    token counts x group counts within ~9e15 — beyond that pre-scale
    counts); the per-group total is an integer sum with ONE terminal
    division by T_g.

    Output: (group, n_tokens, n_types, kl_micro).
    """
    gw = df.groupBy(group_col, token_col).agg(F.count("*").alias("_c"))
    wtot = gw.groupBy(token_col).agg(F.sum("_c").cast("long").alias("_cw"))
    gtot = gw.groupBy(group_col).agg(F.sum("_c").cast("long").alias("_tg"))
    tot = int(
        wtot.agg(F.sum("_cw").cast("long").alias("t")).collect()[0]["t"] or 0
    )
    term = (
        gw.join(wtot, token_col)
        .join(F.broadcast(gtot), group_col)
        .select(
            group_col,
            "_c",
            F.round(
                F.log(
                    (F.col("_c") * F.lit(tot)).cast("double")
                    / (F.col("_tg") * F.col("_cw")).cast("double")
                )
                * MICRO
            )
            .cast("long")
            .alias("_lr"),
        )
    )
    per = term.groupBy(group_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.col("_c") * F.col("_lr")).cast("long").alias("_s"),
    )
    return per.select(
        group_col,
        "n_tokens",
        "n_types",
        F.round(F.col("_s").cast("double") / F.col("n_tokens"))
        .cast("long")
        .alias("kl_micro"),
    )


def zipf_moments(df: DataFrame, token_col: str) -> DataFrame:
    """Zipf-law fit over the corpus word-frequency distribution: OLS slope
    of ln(count) on ln(rank) — the classic "is this corpus natural
    language or template spam?" health check (natural text ~ -1).

    Ranks are NEVER materialized with a row-level window (a vocab-sized
    single-partition sort at web scale): y = ln(count) is CONSTANT
    within a count-tie group, and under the (count desc, token) total
    order a tie group occupies one contiguous rank run [o+1, o+g] — so
    the OLS moments depend only on the rank MULTISET, which is exploded
    directly from the count-of-counts histogram (distinct count values,
    ~O(sqrt(corpus)) by Zipf) as chunked integer sequences.  The chunk
    rows are explicitly repartitioned before the 64Ki-element explode:
    cheap-row/expensive-expansion stages must pin their parallelism
    (the qa42 AQE bytes-based-coalescing lesson).  x =
    round(ln(rank)*1e3), y = round(ln(count)*1e3) are integer
    MILLI-nats (milli keeps the OLS cross-moments within bigint for
    vocabularies up to ~1e9 types); all five moments are exact integer
    sums, and the slope is ONE terminal division of two exact bigints
    (rendered through double, deterministic IEEE in any engine).

    Output: one row (n_types, sxy_num, sxx_den, slope_micro) where
    slope = sxy_num / sxx_den = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2).
    """
    cnt = df.groupBy(token_col).agg(F.count("*").cast("long").alias("_c"))
    hist = cnt.groupBy("_c").agg(F.count("*").cast("long").alias("_g"))
    # exclusive rank offset per count value: window over the
    # count-of-counts histogram (bounded: distinct count values)
    wh = Window.orderBy(F.desc("_c")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunk = 65536
    runs = hist.select(
        "_c",
        "_g",
        F.coalesce(F.sum("_g").over(wh), F.lit(0)).cast("long").alias("_o"),
    ).select(
        "_c",
        "_g",
        "_o",
        F.explode(
            F.sequence(F.lit(0), ((F.col("_g") - 1) / chunk).cast("long"))
        ).alias("_ci"),
    )
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    milli = 1_000
    xy = (
        runs.repartition(n_parts)
        .select(
            "_c",
            F.explode(
                F.sequence(
                    F.col("_o") + F.col("_ci") * chunk + 1,
                    F.least(
                        F.col("_o") + (F.col("_ci") + 1) * chunk,
                        F.col("_o") + F.col("_g"),
                    ),
                )
            ).alias("_r"),
        )
        .select(
            F.round(F.log(F.col("_r").cast("double")) * milli)
            .cast("long")
            .alias("_x"),
            F.round(F.log(F.col("_c").cast("double")) * milli)
            .cast("long")
            .alias("_y"),
        )
    )
    m = xy.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
    )
    return m.select(
        F.col("_n").alias("n_types"),
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).alias(
            "sxy_num"
        ),
        (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).alias(
            "sxx_den"
        ),
        F.round(
            (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
                "double"
            )
            * MICRO
            / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
                "double"
            )
        )
        .cast("long")
        .alias("slope_micro"),
    )


def assortativity_moments(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree-assortativity of a bipartite edge set: Pearson correlation
    between the source-side degree and destination-side degree across
    edges — the "are heavy users attached to heavy items?" structure
    check a KG build runs before deciding its skew strategy (a strongly
    positive r predicts hot-hub joins; see operators/skewjoin.py).

    Degrees are two counting aggregates joined back onto the edges (the
    joins reuse the edge shuffle keys); the five correlation moments are
    EXACT integer sums of bigint degree products.  r itself mixes sqrt
    with division, so the exact moments are the contract output and
    r_micro is derived from them in ONE deterministic double expression
    (exact bigints -> double casts -> mul/sqrt/div, every step correctly
    rounded IEEE, identical in any engine).

    Output: one row (n_edges, sx, sy, sxy, sxx, syy, r_micro).
    """
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    ds = e.groupBy("_s").agg(F.count("*").cast("long").alias("_dx"))
    dd = e.groupBy("_d").agg(F.count("*").cast("long").alias("_dy"))
    m = (
        e.join(ds, "_s")
        .join(dd, "_d")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("_dx").cast("long").alias("sx"),
            F.sum("_dy").cast("long").alias("sy"),
            F.sum(F.col("_dx") * F.col("_dy")).cast("long").alias("sxy"),
            F.sum(F.col("_dx") * F.col("_dx")).cast("long").alias("sxx"),
            F.sum(F.col("_dy") * F.col("_dy")).cast("long").alias("syy"),
        )
    )
    num = (
        F.col("n_edges").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    )
    vx = (
        F.col("n_edges").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    vy = (
        F.col("n_edges").cast("double") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    )
    return m.select(
        "n_edges",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num * MICRO / (F.sqrt(vx) * F.sqrt(vy))).cast("long"),
        ).alias("r_micro"),
    )


def wilson_bounds(
    df: DataFrame,
    group_col: str,
    flag_col: str,
) -> DataFrame:
    """Per-group defect rate with a Wilson score 95%-ish interval (z = 2,
    so every constant stays integer): the monitor that separates "this
    source's failure rate looks high" from "this source is small" —
    flag a source only when its LOWER bound clears the corpus rate.

    With k defects of n: lo,hi = ((k+2) ∓ 2*sqrt(k*(n-k)/n + 1))/(n+4).
    k(n-k) and n are exact bigints; the bound is ONE deterministic
    double expression over them (div, +1, sqrt, mul, sub/add, div —
    identical IEEE chain in any engine), micro-rounded.

    Output: (group, n, k, rate_micro, wilson_lo_micro, wilson_hi_micro).
    """
    per = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col(flag_col).cast("long")).cast("long").alias("k"),
    )
    half = 2 * F.sqrt(
        (F.col("k") * (F.col("n") - F.col("k"))).cast("double")
        / F.col("n").cast("double")
        + 1
    )
    center = (F.col("k") + 2).cast("double")
    denom = (F.col("n") + 4).cast("double")
    return per.select(
        group_col,
        "n",
        "k",
        F.round((F.col("k") * MICRO).cast("double") / F.col("n"))
        .cast("long")
        .alias("rate_micro"),
        F.round((center - half) * MICRO / denom).cast("long")
        .alias("wilson_lo_micro"),
        F.round((center + half) * MICRO / denom).cast("long")
        .alias("wilson_hi_micro"),
    )


def chi2_contingency(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Chi-square independence statistic over the (row, col) contingency
    table — the "is my split balanced across sources?" validator for
    deterministic hash splits (operators/split.py), and generally the
    categorical-drift test companion to ks_drift (numeric).

    chi2 = sum_cells (O*N - R*C)^2 / (N*R*C).  O, R, C, N are exact
    integer counts from three aggregates; each cell's term is computed
    in ONE deterministic double expression and micro-rounded BEFORE the
    final integer sum (never a double accumulation).  (O*N - R*C) stays
    within bigint while N^2 * max(O) < 2^63 — beyond that pre-aggregate
    to rate buckets.

    Output: one row (n_rows_cat, n_cols_cat, n_cells, dof, chi2_micro).
    """
    cell = df.groupBy(row_col, col_col).agg(
        F.count("*").cast("long").alias("_o")
    )
    rows = cell.groupBy(row_col).agg(F.sum("_o").cast("long").alias("_r"))
    cols = cell.groupBy(col_col).agg(F.sum("_o").cast("long").alias("_c"))
    n = int(cell.agg(F.sum("_o").alias("n")).collect()[0]["n"] or 0)
    dev = (F.col("_o") * F.lit(n) - F.col("_r") * F.col("_c")).cast("double")
    term = (
        cell.join(rows, row_col)
        .join(F.broadcast(cols), col_col)
        .select(
            F.round(
                dev * dev * MICRO
                / (F.lit(float(n)) * (F.col("_r") * F.col("_c")).cast("double"))
            )
            .cast("long")
            .alias("_t")
        )
    )
    nr = rows.count()
    nc = cols.count()
    return term.agg(
        F.lit(int(nr)).cast("long").alias("n_rows_cat"),
        F.lit(int(nc)).cast("long").alias("n_cols_cat"),
        F.count("*").cast("long").alias("n_cells"),
        F.lit(int((nr - 1) * (nc - 1))).cast("long").alias("dof"),
        F.sum("_t").cast("long").alias("chi2_micro"),
    )


def mad_outlier_summary(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: int = 3,
) -> DataFrame:
    """Robust per-group outlier report via median / MAD (median absolute
    deviation) on an INTEGER value column — the length/score sanity
    gate that, unlike mean±k·σ, a handful of 100 MB pathological docs
    cannot drag.  Deterministic order statistics: the "median" is the
    value at rank ⌈n/2⌉ under the total order (value, id) — the lower
    median, identical in any engine (no mid-point averaging, which
    would leave integer space).  A row is an outlier when
    |x − med| > k·MAD (all integer).

    Plan: two window ranks over the same group partitioning (one for
    the median, one for the MAD), then one agg — three shuffles keyed
    by group, no floats, no collect.

    Output: (group_col, n_rows, med, mad, n_outliers, max_abs_dev).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
        F.col(id_col).alias("_id"),
    )
    wg = Window.partitionBy("_g")
    r1 = Window.partitionBy("_g").orderBy("_x", "_id")
    ranked = base.select(
        "_g",
        "_x",
        "_id",
        F.row_number().over(r1).alias("_r"),
        F.count("*").over(wg).alias("_n"),
    )
    med = (
        ranked.where(F.col("_r") == F.floor((F.col("_n") + 1) / 2))
        .select("_g", F.col("_x").alias("_med"))
    )
    devs = base.join(F.broadcast(med), "_g").select(
        "_g", "_x", "_id", "_med", F.abs(F.col("_x") - F.col("_med")).alias("_dev")
    )
    r2 = Window.partitionBy("_g").orderBy("_dev", "_id")
    dranked = devs.select(
        "_g",
        "_med",
        "_dev",
        "_id",
        F.row_number().over(r2).alias("_r"),
        F.count("*").over(wg).alias("_n"),
    )
    mad = (
        dranked.where(F.col("_r") == F.floor((F.col("_n") + 1) / 2))
        .select("_g", F.col("_dev").alias("_mad"))
    )
    return (
        devs.join(F.broadcast(mad), "_g")
        .groupBy(F.col("_g").alias(group_col))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("_med").cast("long").alias("med"),
            F.min("_mad").cast("long").alias("mad"),
            F.sum(
                F.when(F.col("_dev") > k * F.col("_mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.max("_dev").cast("long").alias("max_abs_dev"),
        )
    )


def equidepth_bins(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-group equi-depth (quantile) binning of a double value into
    ``n_bins`` buckets — the histogram a pipeline materializes per
    source/day for drift monitors (qa08's KS statistic consumes exactly
    these) and for length-bucketed batch packing.  Values are
    micro-fixed-pointed FIRST (round(x·1e6) bigint) so every downstream
    stat is integer; ntile over the total order (value_micro, id) is
    deterministic in any engine.

    One shuffle (the group window); per-bin stats ride the same
    partitioning.  Output: (group_col, bin, n_rows, v_min_micro,
    v_max_micro, avg_micro) with avg = round(sum/n), one division.
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.round(F.col(value_col) * 1e6).cast("long").alias("_vm"),
        F.col(id_col).alias("_id"),
    )
    w = Window.partitionBy("_g").orderBy("_vm", "_id")
    return (
        base.select("_g", "_vm", F.ntile(n_bins).over(w).alias("bin"))
        .groupBy(F.col("_g").alias(group_col), F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("_vm").cast("long").alias("v_min_micro"),
            F.max("_vm").cast("long").alias("v_max_micro"),
            F.round(F.sum("_vm") / F.count("*")).cast("long").alias("avg_micro"),
        )
    )


def spearman_rho(
    df: DataFrame,
    group_col: str,
    x_col,
    y_col,
    tiebreak_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation between two per-row metrics
    — the cheap monotone-association monitor (does doc length still
    track token count per source? does quality score track dedup
    cluster size?) that, unlike Pearson on raw doubles, is exactly
    computable from integer ranks.

    Ranks are ``row_number`` under a TOTAL order ((metric,
    tiebreak_col) — the repo's window discipline), so both rankings are
    permutations of 1..n and the no-ties closed form is exact:

        rho = 1 − 6·Σd² / (n·(n²−1))

    Σd² stays bigint; the terminal rho evaluation is a FIXED DAG of
    IEEE double ops (cast Σd² and n to double first — Σd²·6e6 and
    n·(n²−1) overflow int64 once groups pass a few million rows, and
    identical double DAGs hash identically in any engine).  Two windows
    over the same group partitioning + one group aggregate — a single
    shuffle on the group key.

    Output: (group_col, n bigint, sum_d2 bigint, rho_micro bigint;
    groups with n < 2 emit NULL rho_micro).
    """
    wx = Window.partitionBy("_g").orderBy(F.col("_x").asc(), F.col("_tb").asc())
    wy = Window.partitionBy("_g").orderBy(F.col("_y").asc(), F.col("_tb").asc())
    ranked = df.select(
        F.col(group_col).alias("_g"),
        (x_col if not isinstance(x_col, str) else F.col(x_col)).alias("_x"),
        (y_col if not isinstance(y_col, str) else F.col(y_col)).alias("_y"),
        F.col(tiebreak_col).alias("_tb"),
    ).select(
        "_g",
        F.row_number().over(wx).cast("long").alias("_rx"),
        F.row_number().over(wy).cast("long").alias("_ry"),
    )
    d = F.col("_rx") - F.col("_ry")
    agg = ranked.groupBy("_g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("sum_d2"),
    )
    nd = F.col("n").cast("double")
    denom = nd * (nd * nd - 1.0)
    return agg.select(
        F.col("_g").alias(group_col),
        "n",
        "sum_d2",
        F.when(
            F.col("n") >= 2,
            F.round(
                MICRO - F.col("sum_d2").cast("double") * 6.0 * MICRO / denom
            ).cast("long"),
        ).alias("rho_micro"),
    )


def fleiss_kappa(
    ratings: DataFrame,
    item_col: str,
    category_col: str,
) -> DataFrame:
    """Fleiss' kappa over a multi-rater label table (one row per
    (item, rater) with the assigned category; every item must carry the
    same number of ratings n) — the agreement gate run before trusting
    a crowd/ensemble labeling pass at corpus scale.

    Everything except three terminal IEEE steps is exact bigint
    arithmetic from two aggregates:

        S  = Σ_items Σ_cat n_ic²          (one (item,cat) count + sum)
        T_c = Σ_items n_ic  → Σ_c T_c²    (category marginals)

        P̄  = (S − N·n) / (N·n·(n−1))      one division
        P̄e = Σ T_c² / (N·n)²              one division
        κ  = (P̄ − P̄e) / (1 − P̄e)          one subtraction + one division

    The double-precision steps operate on identical bigint inputs in
    any engine, so the final micro-rounded values are bit-identical
    (same discipline as the JL ratio).  Two shuffles total (item-cat
    counts; single-row final fold).

    Output: one row (n_items, n_raters, p_bar_micro, p_e_micro,
    kappa_micro).
    """
    cell = (
        ratings.select(
            F.col(item_col).alias("_i"), F.col(category_col).alias("_c")
        )
        .groupBy("_i", "_c")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    per_cat = cell.groupBy("_c").agg(
        F.sum("_n").cast("long").alias("_t"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("_s"),
    )
    tot = per_cat.agg(
        F.sum("_s").cast("long").alias("s"),
        F.sum("_t").cast("long").alias("nn"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("t2"),
    )
    n_items = cell.select("_i").distinct().agg(
        F.count("*").cast("long").alias("n_items")
    )
    j = tot.crossJoin(n_items)
    n_raters = (F.col("nn") / F.col("n_items")).cast("long")
    p_bar = (F.col("s") - F.col("nn")).cast("double") / (
        F.col("nn") * (n_raters - 1)
    ).cast("double")
    p_e = F.col("t2").cast("double") / (F.col("nn") * F.col("nn")).cast(
        "double"
    )
    return j.select(
        "n_items",
        n_raters.alias("n_raters"),
        F.round(p_bar * MICRO).cast("long").alias("p_bar_micro"),
        F.round(p_e * MICRO).cast("long").alias("p_e_micro"),
        F.round((p_bar - p_e) * MICRO / (1.0 - p_e)).cast("long").alias(
            "kappa_micro"
        ),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve over (duration, observed?) rows —
    the right-censoring-aware view of "how long do sessions /
    conversations / cache entries live?", where still-open subjects
    (censored, event=false) leave the risk set without counting as
    deaths.

    Product-limit estimator at each observed event time t_i:

        S(t_i) = Π_{j ≤ i} (n_j − d_j) / n_j

    computed in log space with the repo's micro-int discipline: each
    factor's ln((n−d)/n) = ln_micro(n−d) − ln_micro(n) is an INTEGER
    per distinct-duration row, the running ln S is an integer window
    cumsum (never an order-dependent double sum), and the single exp
    per output row maps it back.  If some event time kills the whole
    risk set (d = n), survival is exactly 0 from there on (flagged via
    a window max — no ln(0)).

    The windows run over the DISTINCT-duration table; with raw
    epoch-micro durations that is ~one row per subject, so at billions
    of subjects coarsen durations first (seconds/minutes buckets — the
    standard discretized life table) to keep the curve table small;
    the estimator itself is unchanged by the choice of time grid.

    Output, one row per distinct EVENT time (d > 0), ascending:
    (duration, n_events, n_censored_here, n_at_risk, ln_s_micro,
    survival_micro).
    """
    per_t = (
        df.select(
            F.col(duration_col).cast("long").alias("_t"),
            F.col(event_col).cast("boolean").alias("_e"),
        )
        .groupBy("_t")
        .agg(
            F.count("*").cast("long").alias("_a"),
            F.sum(F.col("_e").cast("long")).cast("long").alias("_d"),
        )
    )
    before = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, -1)
    upto = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = per_t.select(
        "_t",
        "_a",
        "_d",
        (F.sum("_a").over(full) - F.coalesce(F.sum("_a").over(before), F.lit(0)))
        .cast("long")
        .alias("_n"),
    )
    term = F.when(
        (F.col("_d") > 0) & (F.col("_d") < F.col("_n")),
        _ln_micro(F.col("_n") - F.col("_d")) - _ln_micro(F.col("_n")),
    ).otherwise(F.lit(0))
    cum = staged.select(
        "_t",
        "_a",
        "_d",
        "_n",
        F.sum(term).over(upto).cast("long").alias("_lns"),
        F.max((F.col("_d") == F.col("_n")).cast("int"))
        .over(upto)
        .alias("_dead"),
    )
    return cum.where(F.col("_d") > 0).select(
        F.col("_t").alias("duration"),
        F.col("_d").alias("n_events"),
        (F.col("_a") - F.col("_d")).cast("long").alias("n_censored_here"),
        F.col("_n").alias("n_at_risk"),
        F.when(F.col("_dead") == 1, F.lit(None).cast("long"))
        .otherwise(F.col("_lns"))
        .alias("ln_s_micro"),
        F.when(F.col("_dead") == 1, F.lit(0))
        .otherwise(
            F.round(
                F.exp(F.col("_lns").cast("double") / MICRO) * MICRO
            )
        )
        .cast("long")
        .alias("survival_micro"),
    )


#: round(log10(1 + 1/d) · 1e6) for d = 1..9 — Benford's law expected
#: first-digit probabilities as micro-ints (engine-independent literals).
BENFORD_P_MICRO: tuple[int, ...] = (
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
)


def benford_deviation(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Benford first-digit test over a positive integer
    measure — the classic forged/synthetic-data smell test (organically
    grown sizes follow log-uniform leading digits; generated or
    truncated ones don't).

    First digit comes from the decimal string head (exact for positive
    integers in any engine).  Expected probabilities are micro-int
    LITERALS (computed once, embedded — no engine logs), so the only
    double step is each digit's (o·1e6 − e_micro)²/e_micro deviation
    term, micro-rounded per digit and integer-summed into the group χ²
    via a 9-row window.  A digit-spine cross join guarantees all nine
    digits appear even with zero observations (χ² needs the miss).

    Output, one row per (group, digit 1..9): n_obs, expected_micro
    (N·p as micro-count), dev_micro (o·1e6 − e_micro), chi2_term_micro,
    chi2_total_micro (repeated per group).
    """
    obs = (
        df.select(
            F.col(group_col).alias("_g"),
            F.substring(F.col(value_col).cast("long").cast("string"), 1, 1)
            .cast("long")
            .alias("_d"),
        )
        .where(F.col(value_col) > 0)
        .groupBy("_g", "_d")
        .agg(F.count("*").cast("long").alias("_o"))
    )
    spine = (
        obs.select("_g")
        .distinct()
        .select(
            "_g",
            F.explode(
                F.array(*[F.lit(d).cast("long") for d in range(1, 10)])
            ).alias("_d"),
        )
    )
    p = F.element_at(
        F.array(*[F.lit(int(x)) for x in BENFORD_P_MICRO]),
        F.col("_d").cast("int"),
    ).cast("long")
    joined = spine.join(obs, ["_g", "_d"], "left").select(
        "_g",
        "_d",
        F.coalesce(F.col("_o"), F.lit(0)).cast("long").alias("_o"),
        p.alias("_p"),
    )
    wg = Window.partitionBy("_g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    with_n = joined.select(
        "_g",
        "_d",
        "_o",
        "_p",
        F.sum("_o").over(wg).cast("long").alias("_n"),
    )
    e_micro = F.col("_n") * F.col("_p")
    dev = F.col("_o") * F.lit(MICRO) - e_micro
    chi_term = F.round(dev.cast("double") * dev / e_micro).cast("long")
    staged = with_n.select(
        "_g",
        "_d",
        "_o",
        e_micro.alias("_e"),
        dev.cast("long").alias("_dev"),
        chi_term.alias("_ct"),
    )
    return staged.select(
        F.col("_g").alias(group_col),
        F.col("_d").alias("digit"),
        F.col("_o").alias("n_obs"),
        F.col("_e").cast("long").alias("expected_micro"),
        F.col("_dev").alias("dev_micro"),
        F.col("_ct").alias("chi2_term_micro"),
        F.sum("_ct").over(wg).cast("long").alias("chi2_total_micro"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col,
    tiebreak_col: str,
) -> DataFrame:
    """Per-group weighted median (type-1): the smallest value whose
    cumulative weight reaches half the total — "the median document
    length BY TOKEN MASS", which is what capacity planning actually
    wants (the unweighted median over-counts shorts).  Plain medians
    are the weight≡1 special case; qa51/q54's exact-percentile idiom
    extended to weights.

    One window cumsum under a TOTAL order (value, tiebreak) over the
    group partitioning, one conditional min — exact integer arithmetic
    throughout (2·cum ≥ W avoids the half-weight division).

    Output per group: n_rows, w_total, p50_weighted, plus the plain
    p50 value for contrast (weight≡1 under the same order).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_v"),
        (
            weight_col if not isinstance(weight_col, str) else F.col(weight_col)
        ).cast("long").alias("_w"),
        F.col(tiebreak_col).alias("_tb"),
    )
    w = Window.partitionBy("_g").orderBy("_v", "_tb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("_g")
    staged = base.select(
        "_g",
        "_v",
        F.sum("_w").over(w).alias("_cw"),
        F.sum("_w").over(wall).alias("_tw"),
        F.row_number().over(Window.partitionBy("_g").orderBy("_v", "_tb"))
        .alias("_rn"),
        F.count("*").over(wall).alias("_n"),
    )
    return staged.groupBy("_g").agg(
        F.max("_n").cast("long").alias("n_rows"),
        F.max("_tw").cast("long").alias("w_total"),
        F.min(F.when(F.col("_cw") * 2 >= F.col("_tw"), F.col("_v")))
        .cast("long")
        .alias("p50_weighted"),
        F.min(F.when(F.col("_rn") * 2 >= F.col("_n"), F.col("_v")))
        .cast("long")
        .alias("p50_plain"),
    ).select(
        F.col("_g").alias(group_col),
        "n_rows",
        "w_total",
        "p50_weighted",
        "p50_plain",
    )


def profile_drift(
    df: DataFrame,
    side_col,
    cols: "list[str]",
) -> DataFrame:
    """Side-by-side column profiles (row count, null rate, distinct
    count) of two partitions of a table — the shard-skew / snapshot-
    drift check a 100 TB ingest runs before anything downstream trusts
    "both halves look the same" (a scraper that nulls a field or
    collapses a vocabulary shows up here first, long before model
    metrics move).

    ONE pass computes every column's stats for both sides (a single
    groupBy(side) with null-count and count-distinct aggregates — no
    per-column scans), then the tiny 2-row result pivots to one row per
    column.  All ratios micro-ints from exact counts.

    Output per column: col, n_0, n_1, null0_micro, null1_micro,
    distinct_0, distinct_1, distinct_ratio_micro (side-1 vocabulary vs
    side-0; NULL when side 0 has no distinct values).
    """
    side = (
        side_col if not isinstance(side_col, str) else F.col(side_col)
    ).cast("int")
    aggs = [F.count("*").cast("long").alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"_nl_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"_d_{c}"))
    per_side = df.select(side.alias("_side"), *[F.col(c) for c in cols]).groupBy(
        "_side"
    ).agg(*aggs)
    rows = per_side.select(
        "_side",
        "_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(f"_nl_{c}").alias("nulls"),
                        F.col(f"_d_{c}").alias("dst"),
                    )
                    for c in cols
                ]
            )
        ).alias("s"),
    ).select("_side", "_n", "s.col", "s.nulls", "s.dst")
    pivoted = rows.groupBy("col").agg(
        F.max(F.when(F.col("_side") == 0, F.col("_n"))).cast("long").alias("n_0"),
        F.max(F.when(F.col("_side") == 1, F.col("_n"))).cast("long").alias("n_1"),
        F.max(F.when(F.col("_side") == 0, F.col("nulls"))).cast("long").alias("_nl0"),
        F.max(F.when(F.col("_side") == 1, F.col("nulls"))).cast("long").alias("_nl1"),
        F.max(F.when(F.col("_side") == 0, F.col("dst"))).cast("long").alias("distinct_0"),
        F.max(F.when(F.col("_side") == 1, F.col("dst"))).cast("long").alias("distinct_1"),
    )
    return pivoted.select(
        "col",
        "n_0",
        "n_1",
        F.round(F.col("_nl0") * F.lit(MICRO) / F.col("n_0")).cast("long").alias(
            "null0_micro"
        ),
        F.round(F.col("_nl1") * F.lit(MICRO) / F.col("n_1")).cast("long").alias(
            "null1_micro"
        ),
        "distinct_0",
        "distinct_1",
        F.when(
            F.col("distinct_0") > 0,
            F.round(
                F.col("distinct_1") * F.lit(MICRO) / F.col("distinct_0")
            ).cast("long"),
        ).alias("distinct_ratio_micro"),
    )


#: Poisson(1) cumulative thresholds scaled to 48-bit integers --
#: floor(P(X <= k) * 2^48) for k = 0..4; computed once, identical
#: literals in both engines (weights capped at 5).
POISSON1_T48: tuple[int, ...] = (
    103548857136060,
    207097714272121,
    258872142840152,
    276130285696162,
    280444821410164,
)


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_replicates: int = 40,
) -> DataFrame:
    """Per-group bootstrap confidence interval for the mean via the
    POISSONIZED bootstrap (Chamandy et al. 2012, the MapReduce-era
    trick): instead of resampling n rows with replacement (which needs
    global coordination), each row enters replicate r with weight ~
    Poisson(1) -- independent per row, so the whole resample is a
    map-side explode.  THE uncertainty-quantification primitive a
    100 TB metric pipeline can actually afford.

    Determinism: the Poisson draw is 48 md5 bits of (id, replicate)
    compared against precomputed integer thresholds (floor(cdf * 2^48)
    literals) -- NO floating point anywhere in the resampling, so any
    engine reproduces the exact replicate weights.  Replicate means are
    one integer division each; the CI is a type-1 quantile over the
    n_replicates means (total order (mean, replicate)); the bootstrap
    SE is one sqrt over bigint sums.

    Cost: one explode(x n_replicates) of the value column only + two
    group aggs.  Output per group: n_rows, mean_micro (full-sample),
    boot_lo_micro / boot_hi_micro (2.5% / 97.5% type-1), se_micro.
    """
    reps = F.explode(
        F.array(*[F.lit(r).cast("int") for r in range(n_replicates)])
    ).alias("_r")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
        F.col(id_col).alias("_id"),
    )
    rep_rows = base.select("_g", "_x", "_id", reps)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("_id").cast("string"), F.col("_r"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    w = (
        F.when(h < POISSON1_T48[0], 0)
        .when(h < POISSON1_T48[1], 1)
        .when(h < POISSON1_T48[2], 2)
        .when(h < POISSON1_T48[3], 3)
        .when(h < POISSON1_T48[4], 4)
        .otherwise(5)
        .cast("long")
    )
    per_rep = (
        rep_rows.select("_g", "_r", "_x", w.alias("_w"))
        .groupBy("_g", "_r")
        .agg(
            F.sum(F.col("_w") * F.col("_x")).cast("long").alias("_swx"),
            F.sum("_w").cast("long").alias("_sw"),
        )
        .where(F.col("_sw") > 0)
        .select(
            "_g",
            "_r",
            F.round(F.col("_swx") * F.lit(1_000_000) / F.col("_sw"))
            .cast("long")
            .alias("_m"),
        )
    )
    wrk = Window.partitionBy("_g").orderBy("_m", "_r")
    wn = Window.partitionBy("_g")
    # pivot-shift by the group min before squaring: micro-scaled means
    # square to ~1e18 and 40 of them overflow int64; variance is shift-
    # invariant so sums of (m - min_m) are exact and small
    ranked = per_rep.select(
        "_g",
        "_m",
        F.row_number().over(wrk).alias("_rn"),
        F.count("*").over(wn).alias("_b"),
        (F.col("_m") - F.min("_m").over(wn)).cast("long").alias("_d"),
    )
    lo_idx = F.floor((F.col("_b") * 25 + 999) / 1000).cast("long")
    hi_idx = F.floor((F.col("_b") * 975 + 999) / 1000).cast("long")
    boot = ranked.groupBy("_g").agg(
        F.max(F.when(F.col("_rn") == lo_idx, F.col("_m")))
        .cast("long")
        .alias("boot_lo_micro"),
        F.max(F.when(F.col("_rn") == hi_idx, F.col("_m")))
        .cast("long")
        .alias("boot_hi_micro"),
        F.count("*").cast("long").alias("_nb"),
        F.sum("_d").cast("long").alias("_sm"),
        F.sum(F.col("_d") * F.col("_d")).cast("long").alias("_smm"),
    )
    point = base.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("_x").cast("long").alias("_sx"),
    )
    se_var = (
        F.col("_smm").cast("double")
        - F.col("_sm").cast("double") * F.col("_sm") / F.col("_nb")
    ) / (F.col("_nb") - 1)
    return point.join(boot, "_g").select(
        F.col("_g").alias(group_col),
        "n_rows",
        F.round(F.col("_sx") * F.lit(1_000_000) / F.col("n_rows"))
        .cast("long")
        .alias("mean_micro"),
        "boot_lo_micro",
        "boot_hi_micro",
        F.when(
            F.col("_nb") > 1, F.round(F.sqrt(se_var)).cast("long")
        ).alias("se_micro"),
    )


def randomization_test_means(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    group_a,
    group_b,
    n_reps: int = 200,
    salt: str = "perm",
) -> DataFrame:
    """Two-sample randomization test for the difference in means — the
    assumption-free significance check behind "is source A's doc
    length really different from source B's?"  Each replicate
    reassigns every unit to A with probability n_A/(n_A+n_B) by
    comparing 40 md5 bits against an integer threshold derived from
    the observed sizes (the qa88 coordination-free idiom: resampling
    is a map-side explode, no RNG state, reproducible in any engine).
    40 bits, not 48: the threshold is (n_A << 40) // (n_A + n_B) and
    the comparison product must stay inside int64.

    Exactness: values are int64; each replicate's mean-difference is
    two independently micro-rounded single divisions; the p-value
    counts |diff_r| >= |diff_obs| (add-one smoothed, (1+extreme)/(R+1))
    and is itself ONE terminal division.  Replicates with an empty arm
    count as extreme (conservative).  Cost: one (rows × n_reps)
    explode into a map-side-combined per-rep agg — the same shape that
    holds at 100 TB because nothing is per-unit stateful.

    Output (single row): n_a, n_b, mean_a_micro, mean_b_micro,
    diff_obs_micro, n_reps, n_extreme, p_value_micro.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    base = df.select(
        F.col(group_col).alias("_g"),
        v.cast("long").alias("_x"),
        F.col(id_col).alias("_id"),
    ).where(F.col("_g").isin(group_a, group_b))
    sizes = base.agg(
        F.sum((F.col("_g") == group_a).cast("long")).alias("_na"),
        F.sum((F.col("_g") == group_b).cast("long")).alias("_nb"),
        F.sum(F.when(F.col("_g") == group_a, F.col("_x")).otherwise(0))
        .cast("long")
        .alias("_sa"),
        F.sum(F.when(F.col("_g") == group_b, F.col("_x")).otherwise(0))
        .cast("long")
        .alias("_sb"),
    )
    reps = F.explode(F.sequence(F.lit(0), F.lit(int(n_reps) - 1))).alias("_r")
    hbits = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col("_id").cast("string"),
                    F.col("_r").cast("string"),
                )
            ),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    # integer threshold on 40 hash bits: h < (na * 2^40) div (na + nb).
    # 40 (not 48) keeps the product inside int64 up to n_a < 2^23 units
    # per arm-pair; beyond that, pre-aggregate units before testing.
    assigned = (
        base.crossJoin(F.broadcast(sizes))
        .select(
            "_x",
            "_id",
            F.expr(f"(_na * {2**40}) div (_na + _nb)").alias("_thr"),
            reps,
        )
        .select("_x", "_r", (hbits < F.col("_thr")).alias("_toa"))
    )
    per_rep = assigned.groupBy("_r").agg(
        F.sum(F.col("_toa").cast("long")).cast("long").alias("_ra"),
        F.sum((~F.col("_toa")).cast("long")).cast("long").alias("_rb"),
        F.sum(F.when(F.col("_toa"), F.col("_x")).otherwise(0))
        .cast("long")
        .alias("_rsa"),
        F.sum(F.when(~F.col("_toa"), F.col("_x")).otherwise(0))
        .cast("long")
        .alias("_rsb"),
    )
    diff_r = F.round(F.col("_rsa") * F.lit(MICRO) / F.col("_ra")).cast(
        "long"
    ) - F.round(F.col("_rsb") * F.lit(MICRO) / F.col("_rb")).cast("long")
    rep_stats = per_rep.select(
        F.when((F.col("_ra") > 0) & (F.col("_rb") > 0), F.abs(diff_r)).alias(
            "_absd"
        )
    )
    obs = sizes.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(F.col("_sa") * F.lit(MICRO) / F.col("_na"))
        .cast("long")
        .alias("mean_a_micro"),
        F.round(F.col("_sb") * F.lit(MICRO) / F.col("_nb"))
        .cast("long")
        .alias("mean_b_micro"),
    ).select(
        "n_a",
        "n_b",
        "mean_a_micro",
        "mean_b_micro",
        (F.col("mean_a_micro") - F.col("mean_b_micro"))
        .cast("long")
        .alias("diff_obs_micro"),
    )
    counted = rep_stats.crossJoin(F.broadcast(obs)).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("mean_a_micro").alias("mean_a_micro"),
        F.max("mean_b_micro").alias("mean_b_micro"),
        F.max("diff_obs_micro").alias("diff_obs_micro"),
        F.count("*").cast("long").alias("n_reps"),
        F.sum(
            F.when(
                F.col("_absd").isNull()
                | (F.col("_absd") >= F.abs(F.col("diff_obs_micro"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
    )
    return counted.select(
        "n_a",
        "n_b",
        "mean_a_micro",
        "mean_b_micro",
        "diff_obs_micro",
        "n_reps",
        "n_extreme",
        F.round(
            (F.col("n_extreme") + 1) * F.lit(MICRO) / (F.col("n_reps") + 1)
        )
        .cast("long")
        .alias("p_value_micro"),
    )


def hill_tail_index(
    df: DataFrame,
    group_col: str,
    value_col,
    id_col: str,
    k: int = 100,
) -> DataFrame:
    """Per-group Hill estimator of the power-law tail index over the
    top-k order statistics (Hill 1975) — the number that says HOW
    heavy a key's distribution is (α ≤ 2: unbounded variance, salting
    mandatory; α > 3: hot keys are a rounding error).  The
    quantitative upgrade to the join-strategy advisor's count-based
    skew heuristics (qa68).

    H = mean of ln(x_(i)/x_(k)) over the top k−1 values; α = 1/H.
    Each ln is taken ONCE per retained row on a single integer
    division's result and micro-rounds before an exact integer sum
    (the qa66 idiom); H and α are one terminal division each.  Top-k
    per group is a window rank with a (value desc, id) total order —
    k rows per group survive, so the fold is (groups × k)-sized.

    Output per group: group, n_tail (k−1 actually used), x_k,
    hill_h_micro, alpha_micro (NULL when the tail has < 2 positive
    values or x_k = 0).
    """
    v = (
        value_col if not isinstance(value_col, str) else F.col(value_col)
    ).cast("long")
    base = df.select(
        F.col(group_col).alias("_g"), v.alias("_x"), F.col(id_col).alias("_id")
    ).where(F.col("_x") > 0)
    w = Window.partitionBy("_g").orderBy(F.col("_x").desc(), F.col("_id"))
    ranked = base.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= k
    )
    kth = ranked.where(F.col("_r") == k).select(
        "_g", F.col("_x").alias("_xk")
    )
    tail = ranked.where(F.col("_r") < k).join(kth, "_g")
    per = tail.select(
        "_g",
        "_xk",
        F.round(
            F.lit(1_000_000.0)
            * F.log(F.col("_x").cast("double") / F.col("_xk"))
        )
        .cast("long")
        .alias("_ln_micro"),
    )
    agg = per.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_tail"),
        F.max("_xk").cast("long").alias("x_k"),
        F.sum("_ln_micro").cast("long").alias("_s"),
    )
    h = F.round(F.col("_s") / F.col("n_tail")).cast("long")
    staged = agg.select(
        F.col("_g").alias(group_col),
        "n_tail",
        "x_k",
        F.when(F.col("n_tail") >= 2, h).alias("hill_h_micro"),
    )
    return staged.select(
        group_col,
        "n_tail",
        "x_k",
        "hill_h_micro",
        F.when(
            F.col("hill_h_micro") > 0,
            # 1e12 as ONE long literal: int-lit * int-lit overflows in ANSI
            F.round(
                F.lit(1_000_000_000_000) / F.col("hill_h_micro")
            ).cast("long"),
        ).alias("alpha_micro"),
    )


def jackknife_ratio(
    df: DataFrame,
    block_col,
    num_col,
    den_col,
) -> DataFrame:
    """Leave-one-block-out jackknife for a RATIO metric — the standard
    way to get an honest SE for 'purchases per view'-style metrics
    whose numerator and denominator are correlated within blocks
    (days, shards, users); completes the repo's resampling trio next
    to the Poissonized bootstrap (qa88) and the randomization test
    (qa99).

    Per block d: R_(d) = (S − s_d)/(N − n_d), ONE micro-rounded
    division; pseudovalue PV_d = D·R − (D−1)·R_(d) in exact int64 from
    the already-rounded micros; SE² = Σ(PV_d − PV̄)² / (D(D−1)) with
    the pivot-shift-before-squaring discipline (qa88) so sums stay in
    int64; sqrt is IEEE-correctly-rounded (qa71 precedent).  One
    block-level shuffle; everything after runs on the D-row table.

    Output (single row): n_blocks, ratio_micro, jk_mean_micro,
    jk_se_micro (NULL when < 2 usable blocks; blocks whose removal
    empties the denominator are dropped and counted out).
    """
    n = num_col if not isinstance(num_col, str) else F.col(num_col)
    d = den_col if not isinstance(den_col, str) else F.col(den_col)
    per = (
        df.select(
            F.col(block_col).alias("_b") if isinstance(block_col, str) else block_col.alias("_b"),
            n.cast("long").alias("_s"),
            d.cast("long").alias("_n"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_s").cast("long").alias("_sd"),
            F.sum("_n").cast("long").alias("_nd"),
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = per.select(
        "_b",
        "_sd",
        "_nd",
        F.sum("_sd").over(wall).cast("long").alias("_S"),
        F.sum("_nd").over(wall).cast("long").alias("_N"),
        F.count("*").over(wall).cast("long").alias("_D"),
    )
    r_full = F.round(F.col("_S") * F.lit(MICRO) / F.col("_N")).cast("long")
    r_loo = F.round(
        (F.col("_S") - F.col("_sd"))
        * F.lit(MICRO)
        / (F.col("_N") - F.col("_nd"))
    ).cast("long")
    pv = tot.where(F.col("_N") - F.col("_nd") > 0).select(
        "_D",
        r_full.alias("_r"),
        (
            F.col("_D") * r_full - (F.col("_D") - 1) * r_loo
        ).cast("long").alias("_pv"),
    )
    # pivot-shift before squaring: subtract min(pv) first so squares stay
    # small regardless of the metric's absolute micro scale (qa88)
    shift = pv.agg(F.min("_pv").alias("_p0"))
    shifted = pv.crossJoin(F.broadcast(shift)).select(
        "_D",
        "_r",
        "_p0",
        (F.col("_pv") - F.col("_p0")).cast("long").alias("_q"),
    )
    agg = shifted.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.max("_r").cast("long").alias("ratio_micro"),
        F.max("_p0").cast("long").alias("_p0"),
        F.sum("_q").cast("long").alias("_sq"),
        F.sum(F.col("_q") * F.col("_q")).cast("long").alias("_sqq"),
    )
    ok = F.col("n_blocks") >= 2
    var_num = (
        F.col("_sqq").cast("double")
        - F.col("_sq").cast("double") * F.col("_sq") / F.col("n_blocks")
    )
    return agg.select(
        "n_blocks",
        "ratio_micro",
        # mean(pv) = (Σq)/D + p0 — adding the integer pivot back after
        # the single rounded division is exact
        F.when(
            ok,
            (
                F.round(F.col("_sq") / F.col("n_blocks")).cast("long")
                + F.col("_p0")
            ).cast("long"),
        ).alias("jk_mean_micro"),
        F.when(
            ok,
            F.round(
                F.sqrt(
                    var_num / (F.col("n_blocks") * (F.col("n_blocks") - 1))
                )
            ).cast("long"),
        ).alias("jk_se_micro"),
    )


def two_proportion_ztest(
    df: DataFrame,
    group_col,
    group_a,
    group_b,
    success_col,
    z_crit_micro: int = 1_959_964,
) -> DataFrame:
    """Pooled two-proportion z-test between two segments — the fixed-
    horizon decision rule completing the experimentation toolkit
    (sequential: SPRT qb95; causal panel: DiD qb10; robust SE:
    jackknife qb08).

    Engine-exact construction: the signed numerator x₁n₂ − x₂n₁ is an
    exact int64 product difference; z² clears every proportion to
    integer products, cast to double in a FIXED order before the two
    multiplies that would overflow (n₁n₂ stays integer, ·s·(n−s) in
    double); z_micro is sign·√z² rounded once (IEEE sqrt).  The
    decision compares against a Python-injected critical value (two-
    sided α=.05 default) — no engine ever evaluates a normal quantile.

    Output (single row): n_a, x_a, n_b, x_b, p_a_micro, p_b_micro,
    z_micro, significant (NULL when a segment is empty or the pooled
    rate is degenerate).
    """
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    s = (
        success_col if not isinstance(success_col, str) else F.col(success_col)
    ).cast("long")
    base = df.select(g.alias("_g"), s.alias("_x")).where(
        F.col("_g").isin(group_a, group_b)
    )
    agg = base.agg(
        F.sum((F.col("_g") == group_a).cast("long")).alias("n_a"),
        F.sum(F.when(F.col("_g") == group_a, F.col("_x")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum((F.col("_g") == group_b).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("_g") == group_b, F.col("_x")).otherwise(0))
        .cast("long")
        .alias("x_b"),
    )
    num = F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")
    s_tot = F.col("x_a") + F.col("x_b")
    n_tot = F.col("n_a") + F.col("n_b")
    den = (
        (F.col("n_a") * F.col("n_b")).cast("double")
        * s_tot
        * (n_tot - s_tot)
    )
    z2 = num.cast("double") * num * n_tot / den
    ok = (
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (s_tot > 0)
        & (s_tot < n_tot)
    )
    z_micro = F.round(
        F.signum(num.cast("double")) * F.sqrt(z2) * F.lit(1_000_000)
    ).cast("long")
    staged = agg.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.when(
            F.col("n_a") > 0,
            F.round(F.col("x_a") * F.lit(MICRO) / F.col("n_a")).cast("long"),
        ).alias("p_a_micro"),
        F.when(
            F.col("n_b") > 0,
            F.round(F.col("x_b") * F.lit(MICRO) / F.col("n_b")).cast("long"),
        ).alias("p_b_micro"),
        F.when(ok, z_micro).alias("z_micro"),
    )
    return staged.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        "p_a_micro",
        "p_b_micro",
        "z_micro",
        F.when(
            F.col("z_micro").isNotNull(),
            F.abs(F.col("z_micro")) >= F.lit(int(z_crit_micro)),
        ).alias("significant"),
    )


def cochran_armitage_trend(
    df: DataFrame,
    group_col: str,
    dose_col,
    success_col,
) -> DataFrame:
    """Cochran–Armitage trend test per group: is the success rate
    monotonically drifting across ORDERED integer dose levels?  The
    dose-response upgrade of the qb13 two-proportion z — a 2×k table
    with ordinal structure (e.g. "does purchase rate trend across user
    cohorts?") loses power if you collapse it to two arms.

    With dose weights w = the integer dose itself, per-dose totals
    n_d (trials) and r_d (successes), N = Σn, R = Σr:

        z² = N·(N·Σw·r − R·Σw·n)² /
             ( R·(N−R)·(N·Σn·w² − (Σn·w)²) )

    Every Σ is an exact int64 sum over the DOSE table (doses are a
    dimension); the squared terms overflow int64 at corpus scale, so
    both numerator factors and the variance factor are cast to double
    AFTER the exact integer subtractions and combined in one fixed
    operation order (the qb13 discipline) — z² is micro-rounded once,
    and the trend sign is the exact integer signum of N·Σwr − R·Σwn.
    NULL z² when R = 0, R = N, or the dose variance is 0.

    Output per group: group, n_doses, n_total, n_success, trend_sign,
    z2_micro.
    """
    d = (
        dose_col if not isinstance(dose_col, str) else F.col(dose_col)
    ).cast("long")
    s = (
        success_col if not isinstance(success_col, str) else F.col(success_col)
    ).cast("boolean").cast("long")
    per_dose = df.select(
        F.col(group_col).alias("_g"), d.alias("_w"), s.alias("_y")
    ).groupBy("_g", "_w").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_r"),
    )
    agg = per_dose.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_doses"),
        F.sum("_n").cast("long").alias("_N"),
        F.sum("_r").cast("long").alias("_R"),
        F.sum(F.col("_w") * F.col("_r")).cast("long").alias("_swr"),
        F.sum(F.col("_w") * F.col("_n")).cast("long").alias("_swn"),
        F.sum(F.col("_w") * F.col("_w") * F.col("_n"))
        .cast("long")
        .alias("_sw2n"),
    )
    num_i = F.col("_N") * F.col("_swr") - F.col("_R") * F.col("_swn")
    var_i = F.col("_N") * F.col("_sw2n") - F.col("_swn") * F.col("_swn")
    z2 = (
        F.col("_N").cast("double")
        * (num_i.cast("double") * num_i.cast("double"))
        / (
            (F.col("_R").cast("double") * (F.col("_N") - F.col("_R")).cast("double"))
            * var_i.cast("double")
        )
    )
    return agg.select(
        F.col("_g").alias(group_col),
        "n_doses",
        F.col("_N").alias("n_total"),
        F.col("_R").alias("n_success"),
        F.signum(num_i).cast("int").alias("trend_sign"),
        F.when(
            (F.col("_R") > 0) & (F.col("_R") < F.col("_N")) & (var_i > 0),
            F.round(z2 * MICRO).cast("long"),
        ).alias("z2_micro"),
    )


#: round(ln(2)*1e6) — shared integer constant, injected in BOTH engines so
#: no engine-side ln(2) is ever evaluated for the absent-token mass
LN2_MICRO = 693_147


def jsd_from_reference(
    tok: DataFrame, group_col: str, token_col: str
) -> DataFrame:
    """Per-group Jensen-Shannon divergence of the token distribution
    from the CORPUS distribution — the bounded, symmetric drift monitor
    next to qa29's KL (KL explodes when a source lacks corpus tokens;
    JSD stays in [0, ln 2] and is what mixture dashboards actually
    plot).

    With p = group dist (c_sw/T_s), q = corpus dist (c_w/T) and
    m = (p+q)/2:  JSD = KL(p||m)/2 + KL(q||m)/2.  Observed (group,
    token) rows carry ln terms evaluated ONCE per distinct row on
    integer-product ratios (micro-rounded, the qa29 discipline);
    corpus tokens ABSENT from the group contribute exactly
    q_w·ln 2 to KL(q||m), so their whole mass folds into one
    closed-form term LN2_MICRO·(T - Σ_{w∈group} c_w) — no join against
    the full vocabulary.  Two exact integer sums, two divisions added
    in one fixed order, one terminal round.

    Output per group: group, n_tokens, n_types, jsd_micro.
    """
    gw = tok.select(
        F.col(group_col).alias("_g"), F.col(token_col).alias("_w")
    ).groupBy("_g", "_w").agg(F.count("*").cast("long").alias("_c"))
    wt = gw.groupBy("_w").agg(F.sum("_c").cast("long").alias("_cw"))
    gt = gw.groupBy("_g").agg(F.sum("_c").cast("long").alias("_tg"))
    tot = gw.agg(F.sum("_c").cast("long").alias("_t"))
    base = (
        gw.join(wt, "_w")
        .join(F.broadcast(gt), "_g")
        .crossJoin(F.broadcast(tot))
    )
    den = (F.col("_c") * F.col("_t") + F.col("_cw") * F.col("_tg")).cast(
        "double"
    )
    l1 = F.round(
        F.log((2 * F.col("_c") * F.col("_t")).cast("double") / den) * MICRO
    ).cast("long")
    l2 = F.round(
        F.log((2 * F.col("_cw") * F.col("_tg")).cast("double") / den) * MICRO
    ).cast("long")
    per = base.select(
        "_g",
        "_c",
        "_cw",
        "_tg",
        "_t",
        (F.col("_c") * l1).alias("_a"),
        (F.col("_cw") * l2).alias("_b"),
    ).groupBy("_g").agg(
        F.max("_tg").alias("_tg"),
        F.max("_t").alias("_t"),
        F.count("*").cast("long").alias("n_types"),
        F.sum("_a").cast("long").alias("_sa"),
        F.sum("_b").cast("long").alias("_sb"),
        F.sum("_cw").cast("long").alias("_ccov"),
    )
    return per.select(
        F.col("_g").alias(group_col),
        F.col("_tg").alias("n_tokens"),
        "n_types",
        F.round(
            F.col("_sa").cast("double") / (2 * F.col("_tg")).cast("double")
            + (
                F.col("_sb")
                + F.lit(LN2_MICRO) * (F.col("_t") - F.col("_ccov"))
            ).cast("double")
            / (2 * F.col("_t")).cast("double")
        )
        .cast("long")
        .alias("jsd_micro"),
    )


def shrunk_rates(
    df: DataFrame,
    group_col: str,
    hit_col,
    prior_strength: int = 100,
) -> DataFrame:
    """Empirical-Bayes (Beta-Binomial, fixed prior strength) smoothed
    per-group success rates — the winner's-curse guard for "which
    source has the best quality rate" leaderboards: a 3/3 source must
    not outrank a 900/1000 one.  posterior = (hits + k·p̄)/(n + k)
    with p̄ the pooled rate and k = prior_strength.

    Exactness: p̄ enters as the ALREADY micro-rounded pooled rate (one
    division, mirrored), so the posterior numerator hits·1e6 + k·p̄_micro
    is exact int64 and the posterior is ONE more micro division.  Rank
    by shrunk rate with a group tiebreak (window over the group
    dimension).

    Output per group: group, n, n_hits, raw_micro, shrunk_micro, rank.
    """
    h = (
        hit_col if not isinstance(hit_col, str) else F.col(hit_col)
    ).cast("boolean").cast("long")
    per = df.select(F.col(group_col).alias("_g"), h.alias("_h")).groupBy(
        "_g"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_h").cast("long").alias("n_hits"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_tn"),
        F.sum("n_hits").cast("long").alias("_th"),
    ).select(
        F.round(F.col("_th") * MICRO / F.col("_tn"))
        .cast("long")
        .alias("_pool_micro")
    )
    k = int(prior_strength)
    staged = per.crossJoin(F.broadcast(tot)).select(
        "_g",
        "n",
        "n_hits",
        F.round(F.col("n_hits") * MICRO / F.col("n"))
        .cast("long")
        .alias("raw_micro"),
        F.round(
            (F.col("n_hits") * MICRO + F.lit(k) * F.col("_pool_micro"))
            / (F.col("n") + F.lit(k))
        )
        .cast("long")
        .alias("shrunk_micro"),
    )
    w = Window.orderBy(F.col("shrunk_micro").desc(), F.col("_g"))
    return staged.select(
        F.col("_g").alias(group_col),
        "n",
        "n_hits",
        "raw_micro",
        "shrunk_micro",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def one_vs_rest_ztests(
    df: DataFrame, group_col: str, hit_col
) -> DataFrame:
    """Per-group pooled two-proportion z² of the group's hit rate vs
    the REST of the data — the hypothesis family that feeds the
    Holm/BH multiple-testing corrections (operators/multtest.py): m
    groups, m tests, and without a correction ~alpha·m of them
    false-positive.

    z² = N·(N·r_g − R·n_g)² / (R·(N−R)·n_g·(N−n_g)): the numerator
    difference is exact int64 (sign via exact signum); products enter
    double space individually in one fixed order (qb13 discipline).
    NULL when degenerate (R∈{0,N} or n_g∈{0,N}).

    Output per group: group, n, n_hits, z_sign, z2_micro.
    """
    h = (
        hit_col if not isinstance(hit_col, str) else F.col(hit_col)
    ).cast("boolean").cast("long")
    per = df.select(F.col(group_col).alias("_g"), h.alias("_h")).groupBy(
        "_g"
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_h").cast("long").alias("n_hits"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_N"),
        F.sum("n_hits").cast("long").alias("_R"),
    )
    staged = per.crossJoin(F.broadcast(tot))
    num_i = F.col("_N") * F.col("n_hits") - F.col("_R") * F.col("n")
    z2 = (
        F.col("_N").cast("double")
        * (num_i.cast("double") * num_i.cast("double"))
        / (
            (F.col("_R").cast("double") * (F.col("_N") - F.col("_R")).cast("double"))
            * (F.col("n").cast("double") * (F.col("_N") - F.col("n")).cast("double"))
        )
    )
    return staged.select(
        F.col("_g").alias(group_col),
        "n",
        "n_hits",
        F.signum(num_i).cast("int").alias("z_sign"),
        F.when(
            (F.col("_R") > 0)
            & (F.col("_R") < F.col("_N"))
            & (F.col("n") > 0)
            & (F.col("n") < F.col("_N")),
            F.round(z2 * MICRO).cast("long"),
        ).alias("z2_micro"),
    )


def gumbel_return_levels(
    df: DataFrame,
    group_col: str,
    ts_col,
    value_col,
    return_period_days: int = 30,
) -> DataFrame:
    """Per-group extreme-value capacity planning: fit a Gumbel
    distribution to the DAILY MAXIMA of a metric by method of moments
    and report the T-day return level — "the daily peak you should
    expect to see once per month" — the principled upgrade of eyeballing
    qb03's historical peak.

    Daily maxima are exact MILLI-int64 (floor(value·1e3); squares stay
    within int64 for |value| < ~3e6 over ~3e3 days).  Moments are exact
    integer sums; MoM constants sqrt(6)/π, the Euler–Mascheroni γ, and
    c_T = −ln(−ln(1−1/T)) are Python-injected decimal literals (same
    parse → same IEEE double in both engines); the fit is one
    fixed-order double expression:

        β = sd·sqrt(6)/π,  μ = mean − γ·β,  x_T = μ + β·c_T

    NULL fit when fewer than 2 days or zero variance.

    Output per group: group, n_days, max_milli, mean_milli, beta_milli,
    loc_milli, return_level_milli.
    """
    from math import log, pi, sqrt

    c1 = sqrt(6.0) / pi
    euler_gamma = 0.5772156649015329
    t = float(return_period_days)
    c_t = -log(-log(1.0 - 1.0 / t))
    ts = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    us = F.unix_micros(ts.cast("timestamp"))
    day = ((us - F.pmod(us, F.lit(86_400_000_000))) / F.lit(86_400_000_000)).cast(
        "long"
    )
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            day.alias("_d"),
            F.floor(v * 1_000).cast("long").alias("_x"),
        )
        .groupBy("_g", "_d")
        .agg(F.max("_x").alias("_m"))
    )
    agg = daily.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("_m").cast("long").alias("max_milli"),
        F.sum("_m").cast("long").alias("_s1"),
        F.sum(F.col("_m") * F.col("_m")).cast("long").alias("_s2"),
    )
    n = F.col("n_days").cast("double")
    mean = F.col("_s1").cast("double") / n
    # sample variance: (n·Σx² − (Σx)²) / (n·(n−1)), fixed order
    var_num = (
        F.col("n_days").cast("double") * F.col("_s2").cast("double")
        - F.col("_s1").cast("double") * F.col("_s1").cast("double")
    )
    var = var_num / (n * (n - F.lit(1.0)))
    beta = F.sqrt(var) * F.lit(c1)
    loc = mean - F.lit(euler_gamma) * beta
    rl = loc + beta * F.lit(c_t)
    ok = (F.col("n_days") >= 2) & (var_num > 0)
    return agg.select(
        F.col("_g").alias(group_col),
        "n_days",
        "max_milli",
        F.round(mean).cast("long").alias("mean_milli"),
        F.when(ok, F.round(beta).cast("long")).alias("beta_milli"),
        F.when(ok, F.round(loc).cast("long")).alias("loc_milli"),
        F.when(ok, F.round(rl).cast("long")).alias("return_level_milli"),
    )


def stratified_ate(
    df: DataFrame,
    stratum_col,
    treated_col,
    outcome_col,
) -> DataFrame:
    """Stratification-adjusted average treatment effect: per-stratum
    treated/control outcome rates combined with stratum-share weights —
    the Simpson's-paradox guard for observational comparisons (a naive
    pooled difference can flip sign when treatment assignment is
    confounded with a stratum; the adjusted ATE weights each stratum's
    within-stratum contrast by its population share).

    Per-stratum rates micro-round ONCE each (single divisions of exact
    counts); the adjusted ATE is then an exact integer weighted sum of
    those int64 rates divided by N — one more division.  Strata with a
    missing arm are excluded from the adjusted estimate (standard
    positivity requirement) and reported.

    Output (single row): n, n_strata, n_strata_used, naive_ate_micro,
    adjusted_ate_micro.
    """
    s = stratum_col if not isinstance(stratum_col, str) else F.col(stratum_col)
    t = (
        treated_col if not isinstance(treated_col, str) else F.col(treated_col)
    ).cast("boolean")
    y = (
        outcome_col if not isinstance(outcome_col, str) else F.col(outcome_col)
    ).cast("boolean").cast("long")
    per = df.select(s.alias("_s"), t.alias("_t"), y.alias("_y")).groupBy(
        "_s"
    ).agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col("_t").cast("long")).cast("long").alias("_n1"),
        F.sum(F.when(F.col("_t"), F.col("_y")).otherwise(0))
        .cast("long")
        .alias("_y1"),
        F.sum(F.when(~F.col("_t"), F.col("_y")).otherwise(0))
        .cast("long")
        .alias("_y0"),
    ).withColumn("_n0", F.col("_n") - F.col("_n1"))
    usable = (F.col("_n1") > 0) & (F.col("_n0") > 0)
    rate1 = F.round(F.col("_y1") * MICRO / F.col("_n1")).cast("long")
    rate0 = F.round(F.col("_y0") * MICRO / F.col("_n0")).cast("long")
    staged = per.select(
        "_n",
        "_n1",
        "_n0",
        "_y1",
        "_y0",
        usable.alias("_ok"),
        F.when(usable, (rate1 - rate0) * F.col("_n")).alias("_contrib"),
    )
    agg = staged.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum(F.col("_ok").cast("long")).cast("long").alias("n_strata_used"),
        F.sum(F.when(F.col("_ok"), F.col("_n")).otherwise(0))
        .cast("long")
        .alias("_n_used"),
        F.sum("_contrib").cast("long").alias("_wsum"),
        F.sum("_n1").cast("long").alias("_tn1"),
        F.sum("_n0").cast("long").alias("_tn0"),
        F.sum("_y1").cast("long").alias("_ty1"),
        F.sum("_y0").cast("long").alias("_ty0"),
    )
    naive = F.round(F.col("_ty1") * MICRO / F.col("_tn1")).cast(
        "long"
    ) - F.round(F.col("_ty0") * MICRO / F.col("_tn0")).cast("long")
    return agg.select(
        "n",
        "n_strata",
        "n_strata_used",
        F.when(
            (F.col("_tn1") > 0) & (F.col("_tn0") > 0), naive
        ).alias("naive_ate_micro"),
        F.when(
            F.col("_n_used") > 0,
            F.round(F.col("_wsum") / F.col("_n_used")).cast("long"),
        ).alias("adjusted_ate_micro"),
    )


#: informative-Dirichlet log-odds (Monroe, Colaresi & Quinn 2008) —
#: the "what words characterize this source" contrast that raw counts
#: and tf-idf both get wrong for frequent words
def keyword_logodds(
    tok: DataFrame,
    group_col: str,
    token_col: str,
    alpha_scale_micro: int = 1_000_000,
    top_k: int = 10,
) -> DataFrame:
    """Per-group top-k characteristic tokens by the Dirichlet-smoothed
    log-odds z-score of group-vs-rest usage:

        d = ln((c_gw+a_w)/(n_g+a-c_gw-a_w)) - ln((c_w-c_gw+a_w)/(n-n_g+a-c_w+c_gw-a_w))
        z = d / sqrt(1/(c_gw+a_w) + 1/(c_w-c_gw+a_w))

    with the informative prior a_w = corpus count scaled by
    alpha_scale_micro/1e6 (a = Σa_w).  Every ln/sqrt input is a ratio
    of exact int64 count sums evaluated ONCE per (group, token) row in
    one fixed operation order; the per-group top-k is a rank over the
    group's vocabulary partition (partitioned, never global).

    Output: group, token, n_in_group, n_corpus, z_micro, rank
    (1 = most characteristic).
    """
    gw = tok.select(
        F.col(group_col).alias("_g"), F.col(token_col).alias("_w")
    ).groupBy("_g", "_w").agg(F.count("*").cast("long").alias("_c"))
    wt = gw.groupBy("_w").agg(F.sum("_c").cast("long").alias("_cw"))
    gt = gw.groupBy("_g").agg(F.sum("_c").cast("long").alias("_ng"))
    tot = gw.agg(F.sum("_c").cast("long").alias("_nt"))
    base = (
        gw.join(wt, "_w")
        .join(F.broadcast(gt), "_g")
        .crossJoin(F.broadcast(tot))
    )
    ascale = int(alpha_scale_micro)
    # prior counts live in exact MICRO units: a_w = c_w·(ascale/1e6) is
    # represented as the int64 c_w·ascale next to counts·1e6, so the
    # smoothed ratios below are double divisions of exact integers
    # (valid to ~1e12 corpus tokens before c·1e6 leaves int64)
    awm = F.col("_cw") * F.lit(ascale)
    atm = F.col("_nt") * F.lit(ascale)
    cgm = F.col("_c") * F.lit(MICRO)
    cwm = F.col("_cw") * F.lit(MICRO)
    ngm = F.col("_ng") * F.lit(MICRO)
    ntm = F.col("_nt") * F.lit(MICRO)
    x1 = (cgm + awm).cast("double")
    x2 = (ngm + atm - cgm - awm).cast("double")
    x3 = (cwm - cgm + awm).cast("double")
    x4 = (ntm - ngm + atm - cwm + cgm - awm).cast("double")
    d = F.log(x1 / x2) - F.log(x3 / x4)
    var = F.lit(float(MICRO)) / x1 + F.lit(float(MICRO)) / x3
    z = d / F.sqrt(var)
    scored = base.select(
        "_g",
        "_w",
        F.col("_c").alias("n_in_group"),
        F.col("_cw").alias("n_corpus"),
        F.round(z * F.lit(MICRO)).cast("long").alias("z_micro"),
    )
    wr = Window.partitionBy("_g").orderBy(
        F.col("z_micro").desc(), F.col("_w")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= int(top_k))
        .select(
            F.col("_g").alias(group_col),
            F.col("_w").alias(token_col),
            "n_in_group",
            "n_corpus",
            "z_micro",
            "rank",
        )
    )


def lorenz_deciles(
    df: DataFrame,
    unit_col: str,
    weight_col,
    n_tiles: int = 10,
) -> DataFrame:
    """Lorenz concentration table: units (users, sources, entities)
    sorted by ascending activity and cut into n_tiles equal-population
    tiles; each row reports the tile's share and the cumulative share
    of total activity — the curve behind qa09's single Gini number
    ("the bottom 50% of users produce 4% of events").

    Tiling reuses the qb04 histogram-rank discipline: exact ntile
    arithmetic over the per-unit weight HISTOGRAM's cumulative counts
    (ascending (weight, unit) total order); only boundary weights get a
    per-weight partitioned unit rank — never a row-level global window.
    Weights are exact int64 sums; shares are single micro divisions.

    Output per tile (1 = least active): tile, n_units, tile_weight,
    cum_weight, cum_units_micro, cum_weight_micro.
    """
    w = (
        weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    ).cast("long")
    per_unit = df.select(F.col(unit_col).alias("_u"), w.alias("_w")).groupBy(
        "_u"
    ).agg(F.sum("_w").cast("long").alias("_wt"))
    hist = per_unit.groupBy("_wt").agg(
        F.count("*").cast("long").alias("_ns"),
        F.sum("_wt").cast("long").alias("_ws"),
    )
    wh = Window.orderBy(F.col("_wt").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    whall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    h = hist.select(
        "_wt",
        "_ns",
        "_ws",
        F.coalesce(F.sum("_ns").over(wh), F.lit(0)).cast("long").alias("_c"),
        F.sum("_ns").over(whall).cast("long").alias("_N"),
    ).withColumns(
        {
            "_q": F.expr(f"_N div {int(n_tiles)}"),
            "_rem": F.expr(f"_N % {int(n_tiles)}"),
        }
    )

    def _tile(r: str):
        return F.expr(
            f"CASE WHEN _rem = 0 THEN ({r} - 1) div _q + 1"
            f" WHEN {r} <= _rem * (_q + 1)"
            f" THEN ({r} - 1) div (_q + 1) + 1"
            f" ELSE _rem + ({r} - _rem * (_q + 1) - 1) div greatest(_q, 1)"
            f" + 1 END"
        )

    h = h.withColumns({"_t0": _tile("_c + 1"), "_t1": _tile("_c + _ns")})
    whole = h.where(F.col("_t0") == F.col("_t1")).select(
        F.col("_t0").cast("int").alias("tile"),
        F.col("_ns").alias("_n"),
        F.col("_ws").alias("_sw"),
    )
    split = h.where(F.col("_t0") != F.col("_t1")).select(
        "_wt", "_c", "_q", "_rem"
    )
    wb = Window.partitionBy("_wt").orderBy("_u")
    boundary = (
        per_unit.join(F.broadcast(split), "_wt")
        .withColumn("_r", F.col("_c") + F.row_number().over(wb).cast("long"))
        .withColumn("tile", _tile("_r").cast("int"))
        .groupBy("tile")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_wt").cast("long").alias("_sw"),
        )
    )
    per = (
        whole.unionByName(boundary)
        .groupBy("tile")
        .agg(
            F.sum("_n").cast("long").alias("n_units"),
            F.sum("_sw").cast("long").alias("tile_weight"),
        )
    )
    wc = Window.orderBy("tile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "tile",
        "n_units",
        "tile_weight",
        F.sum("tile_weight").over(wc).cast("long").alias("cum_weight"),
        F.round(
            F.sum("n_units").over(wc) * F.lit(MICRO)
            / F.sum("n_units").over(wall)
        )
        .cast("long")
        .alias("cum_units_micro"),
        F.round(
            F.sum("tile_weight").over(wc) * F.lit(MICRO)
            / F.sum("tile_weight").over(wall)
        )
        .cast("long")
        .alias("cum_weight_micro"),
    )


def srm_check(
    df: DataFrame,
    unit_col: str,
    segment_col: str | None = None,
    z_milli_threshold: int = 3290,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the first thing every
    experimentation platform checks: split units 50/50 by the
    deterministic md5-nibble rule (the q62 hash-split idiom, so the
    'assignment' is reproducible in any engine), then test the observed
    arm counts against the declared ratio with the one-sample z
    statistic z = (n_a − n_b)/√n.  An SRM fires at |z| above the
    threshold (default 3.29 ≈ p<0.001, the industry convention) — on a
    healthy split this flags ~0.1% of segments; any real assignment/
    logging bug lights it up immediately.

    The flag compares the ROUNDED z_milli against an integer threshold
    (never a raw double against a boundary), so the output is engine-
    deterministic end to end.  One distinct + one aggregate per
    segment; the overall row aggregates the same distinct index.

    Output: (segment, n_a, n_b, z_milli, srm_flag) — segment '_all_'
    is the corpus-wide check.
    """
    seg = (
        F.col(segment_col)
        if segment_col
        else F.lit("_all_")
    )
    units = df.select(
        seg.alias("_seg"), F.col(unit_col).alias("_u")
    ).distinct()
    arm = F.when(
        F.substring(F.md5(F.col("_u").cast("string")), 1, 1) < "8", 1
    ).otherwise(0)
    counts = units.select("_seg", arm.alias("_a")).groupBy("_seg").agg(
        F.sum("_a").cast("long").alias("n_a"),
        (F.count("*") - F.sum("_a")).cast("long").alias("n_b"),
    )
    z_milli = F.round(
        (F.col("n_a") - F.col("n_b")).cast("double")
        / F.sqrt((F.col("n_a") + F.col("n_b")).cast("double"))
        * F.lit(1000.0)
    ).cast("long")
    return counts.select(
        F.col("_seg").alias("segment"),
        "n_a",
        "n_b",
        z_milli.alias("z_milli"),
        F.when(
            F.abs(z_milli) > int(z_milli_threshold), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("srm_flag"),
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    cur_flag,
    bin_width: int = 100,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    slice of an integer metric — THE industry drift score for feature
    and score distributions (PSI < 0.1 stable, 0.1-0.25 watch, > 0.25
    shifted), complementing qa29's KL and qb21's JSD with the binned,
    smoothed form monitoring teams actually alert on.

    Bins are fixed-width with a terminal catch-all
    (least(v div width, n_bins-1)) over the FULL 0..n_bins-1 spine;
    Laplace +1 smoothing keeps empty bins finite, so
    p_b = (c_b+1)/(N_b+B).  Exactness: shares are micro-rounded single
    divisions of int64; the log-ratio ln(p/q) is evaluated once per
    bin on a double built from exact ints in ONE fixed factor order
    then micro-rounded; each bin's term is the integer product
    share_diff*lr div 1e6 (rounded), and the total is an int64 sum.
    The only window runs over the n_bins-row spine (bounded —
    allowlisted).

    Output per bin: (bin, base_n, cur_n, share_base_micro,
    share_cur_micro, term_micro, psi_total_micro, drift_level) with
    drift_level 0/1/2 at the 0.1 / 0.25 nat thresholds.
    """
    b = int(n_bins)
    flag = cur_flag if not isinstance(cur_flag, str) else F.col(cur_flag)
    binned = df.select(
        F.least(
            (F.col(value_col).cast("long") / F.lit(int(bin_width)))
            .cast("long"),
            F.lit(b - 1),
        ).alias("_bin"),
        F.when(flag.cast("long") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .alias("_cur"),
    )
    counts = binned.groupBy("_bin").agg(
        F.sum(1 - F.col("_cur")).cast("long").alias("_cb"),
        F.sum("_cur").cast("long").alias("_cc"),
    )
    spark = df.sparkSession
    spine = spark.range(b).select(F.col("id").cast("long").alias("_bin"))
    full = (
        spine.join(F.broadcast(counts), "_bin", "left")
        .select(
            "_bin",
            F.coalesce(F.col("_cb"), F.lit(0)).cast("long").alias("_cb"),
            F.coalesce(F.col("_cc"), F.lit(0)).cast("long").alias("_cc"),
        )
    )
    wall = Window.partitionBy()
    tot = full.select(
        "_bin",
        "_cb",
        "_cc",
        F.sum("_cb").over(wall).alias("_nb"),
        F.sum("_cc").over(wall).alias("_nc"),
    )
    sb = F.round(
        (F.col("_cb") + 1) * F.lit(1_000_000) / (F.col("_nb") + b)
    ).cast("long")
    sc = F.round(
        (F.col("_cc") + 1) * F.lit(1_000_000) / (F.col("_nc") + b)
    ).cast("long")
    lr = F.round(
        F.log(
            (F.col("_cb") + 1).cast("double")
            * (F.col("_nc") + b).cast("double")
            / (
                (F.col("_cc") + 1).cast("double")
                * (F.col("_nb") + b).cast("double")
            )
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    terms = tot.select(
        F.col("_bin").alias("bin"),
        F.col("_cb").alias("base_n"),
        F.col("_cc").alias("cur_n"),
        sb.alias("share_base_micro"),
        sc.alias("share_cur_micro"),
        F.round(
            (sb - sc) * lr / F.lit(1_000_000)
        )
        .cast("long")
        .alias("term_micro"),
    )
    wtot = Window.partitionBy()
    return terms.select(
        "bin",
        "base_n",
        "cur_n",
        "share_base_micro",
        "share_cur_micro",
        "term_micro",
        F.sum("term_micro").over(wtot).cast("long").alias("psi_total_micro"),
        F.when(F.sum("term_micro").over(wtot) > 250_000, F.lit(2))
        .when(F.sum("term_micro").over(wtot) > 100_000, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("drift_level"),
    )


def quantile_normalization(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile normalization across groups: each group's values are
    replaced by the POOLED distribution's value at the matching
    quantile, so every group ends up with the same marginal
    distribution — the batch-effect remover (microarray classic) that
    doubles as cross-source feature alignment before mixing corpora.

    Integer-exact end to end: within-group rank r under the total
    order (value, id); target pooled rank k = ceil((2r-1)N / 2n_g)
    in pure int64 (the mid-rank quantile, so group extremes map
    inside the pooled support); the pooled value at rank k comes from
    the VALUE HISTOGRAM's cumulative counts (qb43 idiom — the
    histogram is distinct-value-sized, broadcast into a bounded range
    join; no global row-level sort anywhere).

    Output per row: (id, group, value, qn_value).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_v"),
    )
    wg = Window.partitionBy("_g").orderBy("_v", "_id")
    ng = Window.partitionBy("_g")
    ranked = base.select(
        "_id",
        "_g",
        "_v",
        F.row_number().over(wg).alias("_r"),
        F.count("*").over(ng).alias("_ng"),
    )
    n_all = base.count()
    hcounts = base.groupBy("_v").agg(
        F.count("*").cast("long").alias("_c")
    )
    wh = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    hist = hcounts.select(
        F.col("_v").alias("_hv"),
        "_c",
        (F.sum("_c").over(wh) - F.col("_c")).alias("_cumb"),
    )
    target = ranked.withColumn(
        "_num",
        (
            (2 * F.col("_r") - 1) * F.lit(int(n_all))
            + 2 * F.col("_ng")
            - 1
        ).cast("long"),
    ).withColumn("_k", F.expr("_num div (2 * _ng)").cast("long"))
    # histogram range join: _cumb < k <= _cumb + _c
    out = target.join(
        F.broadcast(hist),
        (F.col("_k") > F.col("_cumb"))
        & (F.col("_k") <= F.col("_cumb") + F.col("_c")),
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_g").alias(group_col),
        F.col("_v").alias(value_col),
        F.col("_hv").cast("long").alias("qn_value"),
    )


def covariate_balance(
    per_unit: DataFrame,
    arm_col: str,
    covariate_cols: list[str],
    smd_milli_threshold: int = 100,
) -> DataFrame:
    """Covariate balance table (standardized mean differences) between
    two arms — the pre-analysis gate of every causal read (qb31's ATE,
    qb10's DiD assume it): per covariate SMD = (mean1 - mean0) /
    sqrt((v1 + v0)/2), flagged at the conventional |SMD| > 0.1.

    Input is the per-unit covariate table (one row per randomization
    unit).  One grouped aggregate per arm collects exact int64 moments
    for ALL covariates at once (sum + sum-of-squares columns); the SMD
    is one fixed-order double per covariate (each moment cast
    individually, qb19 discipline) rounded to milli; the flag
    compares the ROUNDED value (qb54 discipline).  Degenerate pooled
    variance (both arms constant) yields null SMD, unflagged.

    Output per covariate: (covariate, n0, n1, mean0_milli, mean1_milli,
    smd_milli, balanced).
    """
    aggs = [F.count("*").cast("long").alias("_n")]
    for i, c in enumerate(covariate_cols):
        v = F.col(c).cast("long")
        aggs.append(F.sum(v).cast("long").alias(f"_s{i}"))
        aggs.append(F.sum(v * v).cast("long").alias(f"_q{i}"))
    wide = per_unit.groupBy(
        F.col(arm_col).cast("long").alias("_arm")
    ).agg(*aggs)
    a0 = wide.where(F.col("_arm") == 0)
    a1 = wide.where(F.col("_arm") == 1)
    j = a0.select(
        F.col("_n").alias("_n0"),
        *[F.col(f"_s{i}").alias(f"_s0{i}") for i in range(len(covariate_cols))],
        *[F.col(f"_q{i}").alias(f"_q0{i}") for i in range(len(covariate_cols))],
    ).crossJoin(
        a1.select(
            F.col("_n").alias("_n1"),
            *[
                F.col(f"_s{i}").alias(f"_s1{i}")
                for i in range(len(covariate_cols))
            ],
            *[
                F.col(f"_q{i}").alias(f"_q1{i}")
                for i in range(len(covariate_cols))
            ],
        )
    )
    stack_args = ", ".join(
        f"'{c}', _s0{i}, _q0{i}, _s1{i}, _q1{i}"
        for i, c in enumerate(covariate_cols)
    )
    rows = j.select(
        "_n0",
        "_n1",
        F.expr(
            f"stack({len(covariate_cols)}, {stack_args}) AS "
            "(covariate, s0, q0, s1, q1)"
        ),
    )
    n0 = F.col("_n0").cast("double")
    n1 = F.col("_n1").cast("double")
    m0 = F.col("s0").cast("double") / n0
    m1 = F.col("s1").cast("double") / n1
    v0 = (F.col("q0").cast("double") - F.col("s0").cast("double") * m0) / (
        n0 - F.lit(1.0)
    )
    v1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * m1) / (
        n1 - F.lit(1.0)
    )
    pooled = (v0 + v1) / F.lit(2.0)
    smd = F.when(
        pooled > 0,
        F.round((m1 - m0) * F.lit(1000.0) / F.sqrt(pooled)).cast("long"),
    )
    return rows.select(
        "covariate",
        F.col("_n0").cast("long").alias("n0"),
        F.col("_n1").cast("long").alias("n1"),
        F.round(F.col("s0") * F.lit(1000) / F.col("_n0"))
        .cast("long")
        .alias("mean0_milli"),
        F.round(F.col("s1") * F.lit(1000) / F.col("_n1"))
        .cast("long")
        .alias("mean1_milli"),
        smd.alias("smd_milli"),
        F.when(
            smd.isNotNull(),
            (F.abs(smd) <= int(smd_milli_threshold)).cast("long"),
        ).alias("balanced"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over (duration, observed?) rows
    — the additive sibling of kaplan_meier (qa67): H(t) = sum_{j<=t}
    d_j / n_j accumulates instantaneous risk instead of multiplying
    survival, is better behaved in small risk sets, and its slope read
    directly gives the hazard's shape (constant slope = exponential
    lifetimes).

    Same distinct-duration risk-set table as KM (windows over the
    curve table, never raw rows; coarsen durations first at billions
    of subjects); each increment d/n is ONE micro-rounded integer per
    event time, and the cumulative hazard is an exact integer window
    cumsum of those increments — no double accumulation (the KM
    log-space discipline, additively).

    Output, one row per distinct EVENT time, ascending: (duration,
    n_events, n_censored_here, n_at_risk, hazard_micro,
    cum_hazard_micro).
    """
    per_t = (
        df.select(
            F.col(duration_col).cast("long").alias("_t"),
            F.col(event_col).cast("boolean").alias("_e"),
        )
        .groupBy("_t")
        .agg(
            F.count("*").cast("long").alias("_a"),
            F.sum(F.col("_e").cast("long")).cast("long").alias("_d"),
        )
    )
    before = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, -1)
    upto = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = per_t.select(
        "_t",
        "_a",
        "_d",
        (
            F.sum("_a").over(full)
            - F.coalesce(F.sum("_a").over(before), F.lit(0))
        )
        .cast("long")
        .alias("_n"),
    )
    inc = F.when(
        F.col("_d") > 0,
        F.round(F.col("_d") * F.lit(MICRO) / F.col("_n")).cast("long"),
    ).otherwise(F.lit(0))
    cum = staged.select(
        "_t",
        "_a",
        "_d",
        "_n",
        inc.alias("_h"),
        F.sum(inc).over(upto).cast("long").alias("_ch"),
    )
    return cum.where(F.col("_d") > 0).select(
        F.col("_t").alias("duration"),
        F.col("_d").alias("n_events"),
        (F.col("_a") - F.col("_d")).cast("long").alias("n_censored_here"),
        F.col("_n").alias("n_at_risk"),
        F.col("_h").alias("hazard_micro"),
        F.col("_ch").alias("cum_hazard_micro"),
    )


def simpsons_check(
    df: DataFrame,
    arm_col: str,
    outcome_flag,
    stratum_col: str,
) -> DataFrame:
    """Simpson's-paradox detector for a two-arm rate comparison: the
    pooled rate difference's SIGN versus each stratum's — when every
    stratum disagrees with the pooled direction, the aggregate read is
    a composition artifact (the classic confounding trap qb31's
    stratified ATE corrects; this is the cheap alarm that tells you to
    USE qb31).

    Integer contingency per (stratum, arm); rate differences compared
    by cross-multiplied int64 sign (s1*n0 - s0*n1 — no division at
    all); the paradox flag fires when the pooled
    direction is NONZERO and no informative stratum agrees with it
    (flat strata count as disagreeing; any stratum matching the
    pooled sign clears it).  One grouped aggregate + one broadcast
    of the pooled row.

    Output per stratum plus one '__pooled__' row: (stratum, n0, n1,
    rate0_micro, rate1_micro, diff_sign, agrees_with_pooled,
    paradox_flag — flag constant across rows).
    """
    a = (
        arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    ).cast("long")
    y = F.when(outcome_flag, 1).otherwise(0).cast("long")
    base = df.select(
        F.col(stratum_col).alias("_s"), a.alias("_a"), y.alias("_y")
    )
    per = base.groupBy("_s").agg(
        F.sum(F.when(F.col("_a") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("_a") == 0, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("_a") == 1, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s1"),
    )
    pooled = per.agg(
        F.sum("n0").cast("long").alias("n0"),
        F.sum("n1").cast("long").alias("n1"),
        F.sum("s0").cast("long").alias("s0"),
        F.sum("s1").cast("long").alias("s1"),
    ).select(F.lit("__pooled__").alias("_s"), "n0", "n1", "s0", "s1")
    allrows = per.unionByName(pooled)
    sign = F.signum(
        (F.col("s1") * F.col("n0") - F.col("s0") * F.col("n1"))
        .cast("double")
    ).cast("long")
    rated = allrows.select(
        "_s",
        "n0",
        "n1",
        F.when(
            F.col("n0") > 0,
            F.round(F.col("s0") * F.lit(MICRO) / F.col("n0")).cast("long"),
        ).alias("rate0_micro"),
        F.when(
            F.col("n1") > 0,
            F.round(F.col("s1") * F.lit(MICRO) / F.col("n1")).cast("long"),
        ).alias("rate1_micro"),
        F.when((F.col("n0") > 0) & (F.col("n1") > 0), sign).alias(
            "diff_sign"
        ),
    )
    psign = rated.where(F.col("_s") == "__pooled__").select(
        F.col("diff_sign").alias("_ps")
    )
    joined = rated.crossJoin(F.broadcast(psign))
    agrees = F.when(
        F.col("diff_sign").isNotNull() & F.col("_ps").isNotNull(),
        (F.col("diff_sign") == F.col("_ps")).cast("long"),
    )
    flagged = joined.select(
        F.col("_s").alias(stratum_col),
        "n0",
        "n1",
        "rate0_micro",
        "rate1_micro",
        "diff_sign",
        agrees.alias("agrees_with_pooled"),
        "_ps",
    )
    verdict = flagged.where(
        F.col(stratum_col) != "__pooled__"
    ).agg(
        (
            (F.min(F.coalesce(F.col("agrees_with_pooled"), F.lit(1))) == 0)
            & (F.max(F.coalesce(F.col("agrees_with_pooled"), F.lit(0))) == 0)
            & (F.max(F.abs(F.coalesce(F.col("_ps"), F.lit(0)))) == 1)
        )
        .cast("long")
        .alias("_px")
    )
    return flagged.crossJoin(F.broadcast(verdict)).select(
        stratum_col,
        "n0",
        "n1",
        "rate0_micro",
        "rate1_micro",
        "diff_sign",
        "agrees_with_pooled",
        F.col("_px").alias("paradox_flag"),
    )


def evalue_confounding(
    df: DataFrame,
    arm_col: str,
    outcome_flag,
    stratum_col: str,
) -> DataFrame:
    """E-value robustness audit (VanderWeele & Ding 2017) for two-arm
    rate ratios, per stratum plus pooled: the minimum strength of
    association an unmeasured confounder would need with BOTH arm and
    outcome to explain the observed ratio away — E = RR* +
    sqrt(RR*(RR*-1)) with RR* = max(RR, 1/RR).  The one-number answer
    to "could confounding alone do this", the honest footnote under
    qb10/qb31's causal estimates.

    Integer contingency per stratum; RR is ONE double division of
    cross-multiplied int64 (s1*n0)/(s0*n1) — never two separate rate
    divisions; the E formula is a fixed-order double on that value,
    micro-rounded at the end.  Strata with a zero rate on either arm
    report null (RR undefined).

    Output per stratum + '__pooled__': (stratum, n0, n1, s0, s1,
    rr_micro, evalue_micro).
    """
    a = (
        arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    ).cast("long")
    y = F.when(outcome_flag, 1).otherwise(0).cast("long")
    base = df.select(
        F.col(stratum_col).alias("_s"), a.alias("_a"), y.alias("_y")
    )
    per = base.groupBy("_s").agg(
        F.sum(F.when(F.col("_a") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("_a") == 0, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("_a") == 1, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s1"),
    )
    pooled = per.agg(
        F.sum("n0").cast("long").alias("n0"),
        F.sum("n1").cast("long").alias("n1"),
        F.sum("s0").cast("long").alias("s0"),
        F.sum("s1").cast("long").alias("s1"),
    ).select(F.lit("__pooled__").alias("_s"), "n0", "n1", "s0", "s1")
    allrows = per.unionByName(pooled)
    ok = (
        (F.col("s0") > 0)
        & (F.col("s1") > 0)
        & (F.col("n0") > 0)
        & (F.col("n1") > 0)
    )
    rr = (F.col("s1") * F.col("n0")).cast("double") / (
        F.col("s0") * F.col("n1")
    ).cast("double")
    rr_star = F.greatest(rr, F.lit(1.0) / rr)
    ev = rr_star + F.sqrt(rr_star * (rr_star - F.lit(1.0)))
    return allrows.select(
        F.col("_s").alias(stratum_col),
        "n0",
        "n1",
        "s0",
        "s1",
        F.when(ok, F.round(rr * F.lit(1_000_000.0)).cast("long")).alias(
            "rr_micro"
        ),
        F.when(ok, F.round(ev * F.lit(1_000_000.0)).cast("long")).alias(
            "evalue_micro"
        ),
    )


def kish_ess(
    weighted: DataFrame,
    count_col: str,
    weight_micro_col: str,
) -> DataFrame:
    """Kish effective sample size of a weighted table: ESS =
    (sum n*w)^2 / (sum n*w^2) — how many EQUAL-WEIGHT rows the
    weighted corpus is statistically worth.  The one-number audit of
    any reweighting (qb74 raking, qa26 DSIR, qb06 mixture): an ESS
    ratio far below 1 says the weights bought bias correction with
    most of the sample's power.

    Micro-int weights in, exact int64 sums of n*w and n*w*w, then one
    fixed-order double ratio; the micro scaling cancels in the ratio
    by construction ((sum nw)^2 / (sum nw^2 * sum n) for the ratio
    form).  Output is a single audit row.

    Output: (n_rows, n_units, ess_milli, ess_ratio_micro).
    """
    base = weighted.select(
        F.col(count_col).cast("long").alias("_n"),
        F.col(weight_micro_col).cast("long").alias("_w"),
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("_n").cast("long").alias("n_units"),
        F.sum(F.col("_n") * F.col("_w")).cast("long").alias("_sw"),
        F.sum(F.col("_n") * F.col("_w") * F.col("_w"))
        .cast("long")
        .alias("_sww"),
    )
    ess = (
        F.col("_sw").cast("double")
        * F.col("_sw").cast("double")
        / F.col("_sww").cast("double")
    )
    return agg.select(
        "n_rows",
        "n_units",
        F.when(
            F.col("_sww") > 0, F.round(ess * F.lit(1000.0)).cast("long")
        ).alias("ess_milli"),
        F.when(
            (F.col("_sww") > 0) & (F.col("n_units") > 0),
            F.round(
                ess * F.lit(1_000_000.0) / F.col("n_units").cast("double")
            ).cast("long"),
        ).alias("ess_ratio_micro"),
    )


def mantel_haenszel_rr(
    df: DataFrame,
    arm_col: str,
    outcome_flag,
    stratum_col: str,
) -> DataFrame:
    """Mantel-Haenszel pooled rate ratio across strata — the correct
    one-number summary when qb86's Simpson check fires: weight each
    stratum's ratio by its information instead of letting composition
    confound the pooled rate (RR_MH = sum_k s1_k n0_k / N_k divided
    by sum_k s0_k n1_k / N_k).

    Integer contingency per stratum; each stratum's numerator and
    denominator terms are micro-rounded single divisions by N_k
    (int64 cross products first), the two sums are exact int64, and
    RR_MH is ONE terminal division — the per-stratum rounding is part
    of the spec so both engines agree bit-for-bit (qa90/qb05
    fixed-point discipline).

    Output (single audit row): (n_strata, num_micro_sum,
    den_micro_sum, rr_mh_micro) plus the crude pooled rr_micro for
    the confounding contrast.
    """
    a = (
        arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    ).cast("long")
    y = F.when(outcome_flag, 1).otherwise(0).cast("long")
    base = df.select(
        F.col(stratum_col).alias("_s"), a.alias("_a"), y.alias("_y")
    )
    per = base.groupBy("_s").agg(
        F.sum(F.when(F.col("_a") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("_a") == 0, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("_a") == 1, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s1"),
    )
    nk = F.col("n0") + F.col("n1")
    num_k = F.round(
        F.col("s1") * F.col("n0") * F.lit(MICRO) / nk
    ).cast("long")
    den_k = F.round(
        F.col("s0") * F.col("n1") * F.lit(MICRO) / nk
    ).cast("long")
    agg = per.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum(num_k).cast("long").alias("num_micro_sum"),
        F.sum(den_k).cast("long").alias("den_micro_sum"),
        F.sum("n0").cast("long").alias("_tn0"),
        F.sum("n1").cast("long").alias("_tn1"),
        F.sum("s0").cast("long").alias("_ts0"),
        F.sum("s1").cast("long").alias("_ts1"),
    )
    return agg.select(
        "n_strata",
        "num_micro_sum",
        "den_micro_sum",
        F.when(
            F.col("den_micro_sum") > 0,
            F.round(
                F.col("num_micro_sum")
                * F.lit(MICRO)
                / F.col("den_micro_sum")
            ).cast("long"),
        ).alias("rr_mh_micro"),
        F.when(
            (F.col("_ts0") > 0) & (F.col("_tn1") > 0),
            F.round(
                (F.col("_ts1") * F.col("_tn0")).cast("double")
                * F.lit(1_000_000.0)
                / (F.col("_ts0") * F.col("_tn1")).cast("double")
            ).cast("long"),
        ).alias("crude_rr_micro"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank test — the survival-curve comparison that
    completes the qa67/qb85 family: at each event time, group 1's
    observed deaths vs expected under the pooled hazard
    (E1 = d*n1/n), with hypergeometric variance
    V = d*(n1/n)*(n0/n)*(n-d)/(n-1); z = (O1 - E1)/sqrt(sum V).

    Risk sets come from the same distinct-duration curve table as KM
    (coarsen durations at scale); per event time E1 and V are
    micro-rounded once (int64 cross products, one division each —
    the rounding is part of the spec), their sums are exact int64,
    and z is one terminal fixed-order double rounded to milli.

    Output (single row): (n_events_total, o1, e1_micro, v_micro,
    z_milli, signif_flag) — flag on the ROUNDED |z| > 1.96.
    """
    base = df.select(
        F.col(duration_col).cast("long").alias("_t"),
        F.col(event_col).cast("boolean").alias("_e"),
        F.col(group_col).cast("long").alias("_g"),
    )
    per_t = base.groupBy("_t").agg(
        F.count("*").cast("long").alias("_a"),
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("_a1"),
        F.sum(F.col("_e").cast("long")).cast("long").alias("_d"),
        F.sum(F.when(F.col("_g") == 1, F.col("_e").cast("long")).otherwise(0))
        .cast("long")
        .alias("_d1"),
    )
    before = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, -1)
    full = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = per_t.select(
        "_t",
        "_d",
        "_d1",
        (
            F.sum("_a").over(full)
            - F.coalesce(F.sum("_a").over(before), F.lit(0))
        )
        .cast("long")
        .alias("_n"),
        (
            F.sum("_a1").over(full)
            - F.coalesce(F.sum("_a1").over(before), F.lit(0))
        )
        .cast("long")
        .alias("_n1"),
    ).where(F.col("_d") > 0)
    e1 = F.round(
        F.col("_d") * F.col("_n1") * F.lit(MICRO) / F.col("_n")
    ).cast("long")
    v = F.when(
        F.col("_n") > 1,
        F.round(
            (
                F.col("_d")
                * F.col("_n1")
                * (F.col("_n") - F.col("_n1"))
                * (F.col("_n") - F.col("_d"))
            ).cast("double")
            * F.lit(1_000_000.0)
            / (
                F.col("_n").cast("double")
                * F.col("_n").cast("double")
                * (F.col("_n") - 1).cast("double")
            )
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = staged.agg(
        F.sum("_d").cast("long").alias("n_events_total"),
        F.sum("_d1").cast("long").alias("o1"),
        F.sum(e1).cast("long").alias("e1_micro"),
        F.sum(v).cast("long").alias("v_micro"),
    )
    z = F.when(
        F.col("v_micro") > 0,
        F.round(
            (
                F.col("o1").cast("double") * F.lit(1_000_000.0)
                - F.col("e1_micro").cast("double")
            )
            / F.sqrt(F.col("v_micro").cast("double") * F.lit(1_000_000.0))
            * F.lit(1000.0)
        ).cast("long"),
    )
    return agg.select(
        "n_events_total",
        "o1",
        "e1_micro",
        "v_micro",
        z.alias("z_milli"),
        F.when(z.isNotNull(), (F.abs(z) > 1960).cast("long")).alias(
            "signif_flag"
        ),
    )


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Cramer's V association strength between two categorical columns
    — the [0,1]-normalized effect size the raw chi-square (qb55's
    independence residuals) lacks: V = sqrt(chi2 / (N*(min(r,c)-1))).

    One contingency aggregate; each cell's chi-square term
    (N*o - rm*cm)^2 / (N*rm*cm) enters as a micro-rounded fixed-order
    double ONCE per cell (int64 cross products first), the total is an
    exact int64 sum, and V is one terminal sqrt of a single division —
    deterministic in both engines.

    Output (single row): (n, n_rows_cat, n_cols_cat, chi2_micro,
    v_micro).
    """
    cells = df.groupBy(
        F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
    ).agg(F.count("*").cast("long").alias("_o"))
    rm = cells.groupBy("_r").agg(F.sum("_o").cast("long").alias("_rm"))
    cm = cells.groupBy("_c").agg(F.sum("_o").cast("long").alias("_cm"))
    tot = cells.agg(
        F.sum("_o").cast("long").alias("_n"),
        F.countDistinct("_r").cast("long").alias("_nr"),
        F.countDistinct("_c").cast("long").alias("_nc"),
    )
    # full r x c grid (absent cells are real zeros in chi-square)
    grid = rm.crossJoin(cm)
    full = grid.join(cells, ["_r", "_c"], "left").select(
        "_rm",
        "_cm",
        F.coalesce(F.col("_o"), F.lit(0)).cast("long").alias("_o"),
    )
    j = full.crossJoin(F.broadcast(tot))
    dev = (F.col("_n") * F.col("_o") - F.col("_rm") * F.col("_cm")).cast(
        "double"
    )
    # chi2 cell term: (o-e)^2/e = (N*o - rm*cm)^2 / (N*rm*cm)
    term = F.round(
        dev
        * dev
        * F.lit(1_000_000.0)
        / (
            F.col("_n").cast("double")
            * F.col("_rm").cast("double")
            * F.col("_cm").cast("double")
        )
    ).cast("long")
    agg = j.agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_nr").cast("long").alias("n_rows_cat"),
        F.max("_nc").cast("long").alias("n_cols_cat"),
        F.sum(term).cast("long").alias("chi2_micro"),
    )
    denom = F.col("n") * (
        F.least(F.col("n_rows_cat"), F.col("n_cols_cat")) - 1
    )
    return agg.select(
        "n",
        "n_rows_cat",
        "n_cols_cat",
        "chi2_micro",
        F.when(
            denom > 0,
            F.round(
                F.sqrt(
                    F.col("chi2_micro").cast("double")
                    / (denom.cast("double") * F.lit(1_000_000.0))
                )
                * F.lit(1_000_000.0)
            ).cast("long"),
        ).alias("v_micro"),
    )


def kendall_tau_b(
    per_unit: DataFrame,
    x_col: str,
    y_col: str,
    max_level: int = 19,
) -> DataFrame:
    """Kendall tau-b rank correlation on BUCKETED paired values — the
    tie-aware ordinal association next to qa60's Spearman (Spearman
    needs full rank vectors; tau-b works straight off a grid
    histogram, which is what makes it computable at scale): values
    clamped to 0..max_level, concordant/discordant/tie counts from
    the (x, y) GRID's self-join (at most (max_level+1)^2 cells —
    a bounded dimension product, never a row-level pair join).

    C, D and the tie terms are exact int64 sums of cell-count
    products; tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)) is one
    terminal fixed-order double rounded to milli.  Bucketing is part
    of the declared semantics (rank correlation of the discretized
    pair), exactly like qb48's binned quantile sketch.

    Output (single row): (n, n_cells, concordant, discordant,
    tau_b_milli).
    """
    g = (
        per_unit.select(
            F.least(F.col(x_col).cast("long"), F.lit(int(max_level)))
            .alias("_x"),
            F.least(F.col(y_col).cast("long"), F.lit(int(max_level)))
            .alias("_y"),
        )
        .groupBy("_x", "_y")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    a = g.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_n").alias("_na"),
    )
    b = g.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_n").alias("_nb"),
    )
    pairs = a.crossJoin(F.broadcast(b))
    cd = pairs.agg(
        F.sum(
            F.when(
                (F.col("_xb") > F.col("_xa")) & (F.col("_yb") > F.col("_ya")),
                F.col("_na") * F.col("_nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(
                (F.col("_xb") > F.col("_xa")) & (F.col("_yb") < F.col("_ya")),
                F.col("_na") * F.col("_nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("discordant"),
    )
    tx = (
        g.groupBy("_x")
        .agg(F.sum("_n").cast("long").alias("_t"))
        .agg(
            F.sum(F.col("_t") * (F.col("_t") - 1))
            .cast("long")
            .alias("_tx2")
        )
    )
    ty = (
        g.groupBy("_y")
        .agg(F.sum("_n").cast("long").alias("_t"))
        .agg(
            F.sum(F.col("_t") * (F.col("_t") - 1))
            .cast("long")
            .alias("_ty2")
        )
    )
    tot = g.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
    )
    j = cd.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty)).crossJoin(
        F.broadcast(tot)
    )
    # all doubled to avoid /2: n0x2 = n(n-1); tie terms already t(t-1)
    n0x2 = (F.col("n") * (F.col("n") - 1)).cast("long")
    denom = (n0x2 - F.col("_tx2")).cast("double") * (
        n0x2 - F.col("_ty2")
    ).cast("double")
    tau = F.when(
        denom > 0,
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            * F.lit(2000.0)
            / F.sqrt(denom)
        ).cast("long"),
    )
    return j.select("n", "n_cells", "concordant", "discordant",
                    tau.alias("tau_b_milli"))


def word_burstiness(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 5,
) -> DataFrame:
    """Church-Gale word burstiness: for each word, the adaptation
    probability P(occurs again | occurred once) = df2/df1 against the
    first-occurrence rate df1/N — content words REPEAT far beyond
    Poisson, function words don't, and the ratio is the classic
    topicality signal (Church & Gale 1995) that tf-idf only proxies.

    One tokenize + one (doc, word, count) aggregate; df1/df2 are
    integer document counts, probabilities micro-rounded single
    divisions, adaptation lift one further division of those micro
    ints.  Poisson-baseline comparison left to the consumer (the
    lift column is the model-free form).

    Output per word with df1 >= min_df: (word, cf, df1, df2,
    p_repeat_micro, p_first_micro, lift_milli).
    """
    toks = docs.select(
        F.col("doc_id").alias("_d"),
        F.explode(
            F.split(
                F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))),
                " ",
            )
        ).alias("_w"),
    ).where(F.col("_w") != "")
    n_docs = docs.count()
    dw = toks.groupBy("_d", "_w").agg(
        F.count("*").cast("long").alias("_c")
    )
    agg = dw.groupBy("_w").agg(
        F.sum("_c").cast("long").alias("cf"),
        F.count("*").cast("long").alias("df1"),
        F.sum((F.col("_c") >= 2).cast("long")).cast("long").alias("df2"),
    ).where(F.col("df1") >= int(min_df))
    p_rep = F.round(F.col("df2") * F.lit(MICRO) / F.col("df1")).cast("long")
    p_first = F.round(
        F.col("df1") * F.lit(MICRO) / F.lit(int(n_docs))
    ).cast("long")
    return agg.select(
        F.col("_w").alias("word"),
        "cf",
        "df1",
        "df2",
        p_rep.alias("p_repeat_micro"),
        p_first.alias("p_first_micro"),
        F.when(
            p_first > 0,
            F.round(p_rep * F.lit(1000) / p_first).cast("long"),
        ).alias("lift_milli"),
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    side_flag,
) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between two
    samples of an integer metric: W1 = integral |F_A - F_B| dx over
    the pooled distinct-value support — the drift number with UNITS
    (average cents each observation must move), where KS (qa08) gives
    a max gap and PSI (qb69) a binned score.

    One distinct-value histogram with per-side counts; cumulative
    comparison cross-multiplied into int64 (|cumA*nB - cumB*nA|,
    no per-value division), weighted by the gap to the next distinct
    value, one terminal milli-rounded division by nA*nB.  The only
    window runs over the distinct-value spine (histogram-sized,
    qa22/qa30 family).

    Output (single row): (n_a, n_b, n_values, w1_milli).
    """
    flag = side_flag if not isinstance(side_flag, str) else F.col(side_flag)
    base = df.select(
        F.col(value_col).cast("long").alias("_v"),
        F.when(flag, 1).otherwise(0).alias("_b"),
    )
    hist = base.groupBy("_v").agg(
        F.sum(1 - F.col("_b")).cast("long").alias("_ca"),
        F.sum("_b").cast("long").alias("_cb"),
    )
    w = Window.orderBy("_v")
    cum = hist.select(
        "_v",
        F.sum("_ca").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cuma"),
        F.sum("_cb").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cumb"),
        (F.lead("_v").over(w) - F.col("_v")).alias("_gap"),
    ).where(F.col("_gap").isNotNull())
    tot = hist.agg(
        F.sum("_ca").cast("long").alias("n_a"),
        F.sum("_cb").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_values"),
    )
    d = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max("n_values").cast("long").alias("n_values"),
        F.sum(
            F.abs(
                F.col("_cuma") * F.col("n_b")
                - F.col("_cumb") * F.col("n_a")
            )
            * F.col("_gap")
        )
        .cast("long")
        .alias("_d"),
    )
    return d.select(
        "n_a",
        "n_b",
        "n_values",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                F.col("_d").cast("double")
                * F.lit(1000.0)
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).cast("long"),
        ).alias("w1_milli"),
    )


def odds_ratio_ci(
    df: DataFrame,
    arm_col: str,
    outcome_flag,
    stratum_col: str,
    z_micro: int = 1_959_964,
) -> DataFrame:
    """Per-stratum odds ratio with the Woolf (log-normal) 95% CI —
    the case-control-compatible effect size completing the two-arm
    family (qb13 z-test, qb88 E-value, qb90 MH rate ratio): OR =
    (s1*f0)/(s0*f1) with the Haldane-Anscombe +1/2 correction
    applied (doubled-integer form: every cell enters as 2c+1) so
    zero cells stay finite and BOTH engines share one integer
    convention.

    The corrected OR is ONE double division of int64 cross products;
    ln OR and the SE (sqrt of summed reciprocals of the corrected
    doubled cells, each reciprocal one division) form a fixed-order
    double DAG; CI bounds exponentiate once per row.  z is
    Python-injected in micro (1.959964).  All micro-rounded at the
    end only.

    Output per stratum: (stratum, n0, n1, s0, s1, or_micro,
    ci_lo_micro, ci_hi_micro, signif_flag) — flag when the ROUNDED
    CI excludes 1e6.
    """
    a = (
        arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    ).cast("long")
    y = F.when(outcome_flag, 1).otherwise(0).cast("long")
    base = df.select(
        F.col(stratum_col).alias("_s"), a.alias("_a"), y.alias("_y")
    )
    per = base.groupBy("_s").agg(
        F.sum(F.when(F.col("_a") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("_a") == 0, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("_a") == 1, F.col("_y")).otherwise(0))
        .cast("long")
        .alias("s1"),
    )
    # doubled corrected cells: 2c+1 (Haldane-Anscombe +1/2)
    a2 = 2 * F.col("s1") + 1
    b2 = 2 * (F.col("n1") - F.col("s1")) + 1
    c2 = 2 * F.col("s0") + 1
    d2 = 2 * (F.col("n0") - F.col("s0")) + 1
    orr = (a2 * d2).cast("double") / (c2 * b2).cast("double")
    lnor = F.log(orr)
    # SE^2 = sum 1/cell on the corrected table; doubled cells halve to
    # cell = (2c+1)/2 so 1/cell = 2/(2c+1)
    se = F.sqrt(
        F.lit(2.0) / a2.cast("double")
        + F.lit(2.0) / b2.cast("double")
        + F.lit(2.0) / c2.cast("double")
        + F.lit(2.0) / d2.cast("double")
    )
    zf = F.lit(int(z_micro)).cast("double") / F.lit(1_000_000.0)
    lo = F.exp(lnor - zf * se)
    hi = F.exp(lnor + zf * se)
    lo_m = F.round(lo * F.lit(1_000_000.0)).cast("long")
    hi_m = F.round(hi * F.lit(1_000_000.0)).cast("long")
    return per.select(
        F.col("_s").alias(stratum_col),
        "n0",
        "n1",
        "s0",
        "s1",
        F.round(orr * F.lit(1_000_000.0)).cast("long").alias("or_micro"),
        lo_m.alias("ci_lo_micro"),
        hi_m.alias("ci_hi_micro"),
        ((lo_m > 1_000_000) | (hi_m < 1_000_000))
        .cast("long")
        .alias("signif_flag"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Kruskal-Wallis H — the k-group generalization of Mann-Whitney
    (mann_whitney_u handles one-vs-rest): "do ANY of these segments'
    metric distributions differ?", the omnibus gate you run BEFORE
    k-1 pairwise MW tests.

    Scale-correct ranking, same discipline as mann_whitney_u: ranks
    come from the VALUE HISTOGRAM (doubled midranks 2·cum_before+c+1
    are exact int64; the only unpartitioned window runs over distinct
    values, histogram-sized).  r2_i² overflows int64 at corpus scale,
    so each group's H contribution is ONE fixed scalar DAG on exact
    integers (IEEE-identical in both engines):
    h_i_micro = round(3·r2_i²·1e6 / (n_i·N·(N+1)))  [12·(R_i²/n_i)/
    (N(N+1)) with r2=2R], bounded by 1e6·H ≤ ~1e12 — then
    S = Σ h_i_micro is an INTEGER sum, never a double accumulation
    (per-group rounding error ≤ 0.5e-6·k on H).  H and the
    tie-corrected H are terminal scalar DAGs: h = S/1e6 − 3(N+1),
    h_tie = h / (1 − T/(N³−N)) with T = Σ(t³−t) int64.

    Output: one row per group (n_a, r2, mean_rank2_micro) with the
    global (n_total, k_groups, h_milli, h_tie_milli) attached via a
    broadcast 1-row summary (no corpus window).
    """
    vc = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w = Window.orderBy("_v")
    ranked = vc.select(
        "_v",
        "_c",
        (2 * (F.sum("_c").over(w) - F.col("_c")) + F.col("_c") + 1).alias(
            "_dmid"
        ),
        (F.col("_c") * F.col("_c") * F.col("_c") - F.col("_c")).alias(
            "_tie"
        ),
    )
    gv = df.groupBy(F.col(group_col), F.col(value_col).alias("_v")).agg(
        F.count("*").cast("long").alias("_ca")
    )
    base_terms = (
        gv.join(ranked, "_v")
        .groupBy(group_col)
        .agg(
            F.sum("_ca").cast("long").alias("n_a"),
            F.sum(F.col("_ca") * F.col("_dmid")).cast("long").alias("r2"),
        )
    )
    tot = df.groupBy().agg(F.count("*").cast("long").alias("_N"))
    terms = base_terms.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_a",
        "r2",
        "_N",
        F.round(
            F.lit(3.0) * F.col("r2") * F.col("r2") * MICRO
            / (
                F.lit(1.0)
                * F.col("n_a")
                * F.col("_N")
                * (F.col("_N") + 1)
            )
        )
        .cast("long")
        .alias("_s"),
    )
    glob = terms.groupBy().agg(
        F.max("_N").cast("long").alias("_N"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum("_s").cast("long").alias("_S"),
    )
    ties = ranked.groupBy().agg(F.sum("_tie").cast("long").alias("_T"))
    g = glob.crossJoin(ties).select(
        "_N",
        "k_groups",
        "_S",
        "_T",
        (
            F.col("_S") / F.lit(1000000.0)
            - F.lit(3.0) * (F.col("_N") + 1)
        ).alias("_h"),
    )
    g = g.select(
        F.col("_N").alias("n_total"),
        "k_groups",
        F.round(F.col("_h") * 1000).cast("long").alias("h_milli"),
        F.when(
            (F.lit(1.0) * F.col("_N") * F.col("_N") * F.col("_N") - F.col("_N"))
            > F.col("_T"),
            F.round(
                F.col("_h")
                / (
                    F.lit(1.0)
                    - F.col("_T")
                    / (
                        F.lit(1.0) * F.col("_N") * F.col("_N") * F.col("_N")
                        - F.col("_N")
                    )
                )
                * 1000
            ).cast("long"),
        ).alias("h_tie_milli"),
    )
    return terms.select(
        group_col,
        "n_a",
        "r2",
        F.round(F.col("r2").cast("double") * MICRO / (2 * F.col("n_a")))
        .cast("long")
        .alias("mean_rank2_micro"),
    ).crossJoin(F.broadcast(g))


def friedman_test(
    df: DataFrame, block_col: str, treat_col: str, value_col: str
) -> DataFrame:
    """Friedman test — the PAIRED k-treatment rank test (blocks control
    a nuisance dimension, e.g. "do event types differ in daily spend
    once the day itself is controlled for?"), completing the
    nonparametric suite next to kruskal_wallis (unpaired omnibus) and
    mann_whitney_u (two-sample).

    Input is one row per (block, treatment) CELL with an exact int64
    value (callers aggregate raw rows to cells first — e.g. daily
    cents sums).  Only COMPLETE blocks (all k treatments present)
    enter, per the classical design.  Within-block ranks use doubled
    midranks from the per-block value histogram — every window is
    PARTITIONED BY block (k rows each), nothing global.  With
    R2_j = Σ_blocks dmid (= 2·rank sum, exact int64 — b(2k+1) max):
    χ²_F = 3·S4/(b·k·(k+1)) − 3·b·(k+1) where S4 = Σ_j R2_j², an
    integer sum; the χ² is one terminal scalar DAG.

    Output: one row per treatment (r2, mean_rank2_micro) with global
    (n_blocks, k_treatments, chi2_milli) broadcast-attached.
    """
    cells = df.groupBy(
        F.col(block_col).alias("_b"), F.col(treat_col).alias("_t")
    ).agg(F.sum(F.col(value_col)).cast("long").alias("_v"))
    k_row = cells.select("_t").distinct().groupBy().agg(
        F.count("*").cast("long").alias("k_treatments")
    )
    complete = (
        cells.groupBy("_b")
        .agg(F.count("*").cast("long").alias("_kc"))
        .crossJoin(F.broadcast(k_row))
        .where(F.col("_kc") == F.col("k_treatments"))
        .select("_b")
    )
    cc = cells.join(complete, "_b")
    hist = cc.groupBy("_b", "_v").agg(F.count("*").cast("long").alias("_c"))
    wb = Window.partitionBy("_b").orderBy("_v")
    dmid = hist.select(
        "_b",
        "_v",
        (2 * (F.sum("_c").over(wb) - F.col("_c")) + F.col("_c") + 1).alias(
            "_dmid"
        ),
    )
    r = (
        cc.join(dmid, ["_b", "_v"])
        .groupBy("_t")
        .agg(
            F.count("*").cast("long").alias("_nb"),
            F.sum("_dmid").cast("long").alias("r2"),
        )
    )
    glob = r.groupBy().agg(
        F.max("_nb").cast("long").alias("n_blocks"),
        F.count("*").cast("long").alias("k_treatments"),
        F.sum(F.col("r2") * F.col("r2")).cast("long").alias("_s4"),
    )
    g = glob.select(
        "n_blocks",
        "k_treatments",
        F.round(
            (
                F.lit(3.0)
                * F.col("_s4")
                / (
                    F.col("n_blocks")
                    * F.col("k_treatments")
                    * (F.col("k_treatments") + F.lit(1.0))
                )
                - F.lit(3.0) * F.col("n_blocks") * (F.col("k_treatments") + 1)
            )
            * 1000
        )
        .cast("long")
        .alias("chi2_milli"),
    )
    return r.select(
        F.col("_t").alias(treat_col),
        "r2",
        F.round(F.col("r2").cast("double") * MICRO / (2 * F.col("_nb")))
        .cast("long")
        .alias("mean_rank2_micro"),
    ).crossJoin(F.broadcast(g))


def cliffs_delta(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Cliff's delta effect size (one group vs rest) with the standard
    magnitude bands — the "HOW different is this segment, in a unit
    reviewers recognize" companion to mann_whitney_u's AUC (delta =
    2·AUC − 1, i.e. P(a>b) − P(a<b)): negligible < .147 ≤ small <
    .33 ≤ medium < .474 ≤ large, thresholds from Romano et al.'s
    widely-used table.

    Same histogram-midrank machinery as mann_whitney_u (u2 = 2U exact
    int64, one unpartitioned window over DISTINCT values only);
    delta_micro = round(1e6·(u2 − n_a·n_b)/(n_a·n_b)) is one terminal
    scalar division; the band CASE compares the rounded integer so
    both engines classify identically.
    """
    mw = mann_whitney_u(df, group_col, value_col)
    delta = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.round(
            ((F.col("u2") - F.col("n_a") * F.col("n_b")) * MICRO).cast(
                "double"
            )
            / (F.col("n_a") * F.col("n_b"))
        ).cast("long"),
    )
    out = mw.select(group_col, "n_a", "n_b", delta.alias("delta_micro"))
    mag = F.abs(F.col("delta_micro"))
    return out.select(
        group_col,
        "n_a",
        "n_b",
        "delta_micro",
        F.when(F.col("delta_micro").isNull(), F.lit(None).cast("string"))
        .when(mag < 147_000, F.lit("negligible"))
        .when(mag < 330_000, F.lit("small"))
        .when(mag < 474_000, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: int,
) -> DataFrame:
    """Restricted Mean Survival Time at horizon tau — the AREA under
    the Kaplan-Meier curve up to tau, i.e. "expected lifetime within
    the first tau units", the single-number summary clinicians (and
    session-retention dashboards) quote when median survival is
    undefined under heavy censoring.  Builds directly on
    kaplan_meier's hash-exact curve.

    RMST = Σ_i S(t_{i-1})·(t_i − t_{i-1}) + S(t_last)·(tau − t_last)
    over event times t_i ≤ tau with S(t_0)=1 — survival_micro values
    are ints, gaps are ints, so the area is an INTEGER sum in
    (time-unit × micro) scale; the fraction-of-horizon view is one
    terminal division.  Windows run over the distinct-event-time
    curve (qa67 family — coarsen durations at scale).

    Output (single row): (tau_us, n_event_times, rmst_us_micro,
    rmst_frac_micro).
    """
    km = kaplan_meier(df, duration_col, event_col)
    pts = km.where(F.col("duration") <= F.lit(int(tau))).select(
        F.col("duration").alias("_t"), F.col("survival_micro").alias("_s")
    )
    w = Window.orderBy("_t")
    lagd = pts.select(
        "_t",
        "_s",
        F.coalesce(F.lag("_s").over(w), F.lit(MICRO)).alias("_sp"),
        F.coalesce(F.lag("_t").over(w), F.lit(0)).alias("_tp"),
    )
    a1 = lagd.groupBy().agg(
        F.coalesce(F.sum(F.col("_sp") * (F.col("_t") - F.col("_tp"))), F.lit(0))
        .cast("long")
        .alias("_area1"),
        F.count("*").cast("long").alias("n_event_times"),
    )
    lastp = pts.groupBy().agg(
        F.coalesce(F.max_by("_s", "_t"), F.lit(MICRO))
        .cast("long")
        .alias("_sl"),
        F.coalesce(F.max("_t"), F.lit(0)).cast("long").alias("_tl"),
    )
    return a1.crossJoin(lastp).select(
        F.lit(int(tau)).cast("long").alias("tau_us"),
        "n_event_times",
        (
            F.col("_area1")
            + F.col("_sl") * (F.lit(int(tau)) - F.col("_tl"))
        )
        .cast("long")
        .alias("rmst_us_micro"),
        F.round(
            (
                F.col("_area1")
                + F.col("_sl") * (F.lit(int(tau)) - F.col("_tl"))
            ).cast("double")
            / F.lit(int(tau))
        )
        .cast("long")
        .alias("rmst_frac_micro"),
    )


def gwet_ac1(
    ratings: DataFrame, item_col: str, category_col: str
) -> DataFrame:
    """Gwet's AC1 multi-rater agreement — the paradox-resistant
    companion to Fleiss' kappa (fleiss_kappa): kappa collapses when
    one category dominates (high observed agreement, near-zero kappa
    — the Feinstein-Cicchetti paradox); AC1's chance term
    p_e = (1/(Q−1))·Σ_q π_q(1−π_q) = (1 − Σπ_q²)/(Q−1) only charges
    chance for the OPPORTUNITY to agree randomly, so it stays
    informative on skewed label panels.

    Same cell/marginal integer tables as fleiss_kappa (observed
    agreement p_a is identical); Σπ_q² = t2/nn² reuses the same
    Σ T_q² bigint; p_a, p_e, AC1 are one fixed double DAG
    micro-rounded at the end.

    Output (single row): (n_items, n_raters, n_categories, p_a_micro,
    p_e_micro, ac1_micro).
    """
    cell = (
        ratings.select(
            F.col(item_col).alias("_i"), F.col(category_col).alias("_c")
        )
        .groupBy("_i", "_c")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    per_cat = cell.groupBy("_c").agg(
        F.sum("_n").cast("long").alias("_t"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("_s"),
    )
    tot = per_cat.agg(
        F.sum("_s").cast("long").alias("s"),
        F.sum("_t").cast("long").alias("nn"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("t2"),
        F.count("*").cast("long").alias("n_cats"),
    )
    n_items = cell.select("_i").distinct().agg(
        F.count("*").cast("long").alias("n_items")
    )
    j = tot.crossJoin(n_items)
    n_raters = (F.col("nn") / F.col("n_items")).cast("long")
    p_a = (F.col("s") - F.col("nn")).cast("double") / (
        F.col("nn") * (n_raters - 1)
    ).cast("double")
    p_e = (
        F.lit(1.0)
        - F.col("t2").cast("double")
        / (F.col("nn") * F.col("nn")).cast("double")
    ) / (F.col("n_cats") - 1)
    return j.select(
        "n_items",
        n_raters.alias("n_raters"),
        F.col("n_cats").alias("n_categories"),
        F.round(p_a * MICRO).cast("long").alias("p_a_micro"),
        F.round(p_e * MICRO).cast("long").alias("p_e_micro"),
        F.round((p_a - p_e) * MICRO / (1.0 - p_e)).cast("long").alias(
            "ac1_micro"
        ),
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_order: tuple,
) -> DataFrame:
    """Jonckheere-Terpstra trend test — the ORDERED-alternative
    k-sample test (kruskal_wallis asks "any difference?"; JT asks
    "does the metric INCREASE along this ordering?"), e.g. does spend
    rise across hour-of-day buckets.

    Doubled statistic from group-value histograms on the shared
    distinct-value spine: JT2 = Σ_{a<b} Σ_v c_b(v)·(2·cumlt_a(v) +
    c_a(v)) — every term exact int64 (2·#{x_a<x_b} + #ties summed
    over ordered pairs), the spine × k grid keeps cumlt_a defined at
    every value, and the only windows are per-group cumulative counts
    over the spine (qa22 family).  Null moments E2 = (N²−Σn_i²)/2
    (exact int) and the classical no-tie variance
    Var = [N²(2N+3) − Σn_i²(2n_i+3)]/72 give z = (JT2−E2)/(2·√Var) —
    one fixed scalar DAG (IEEE sqrt is correctly rounded,
    engine-exact); ties are counted in JT2 itself (the ½ convention)
    but the variance is the standard untied approximation,
    documented.

    Output (single row): (n_total, k_groups, jt2, e2, z_milli).
    """
    order = list(group_order)
    spark = df.sparkSession
    gtab = spark.createDataFrame(
        [(g, i) for i, g in enumerate(order)], "_g string, _gi int"
    )
    base = df.select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).alias("_v"),
    ).join(F.broadcast(gtab), "_g")
    vals = base.select("_v").distinct()
    gv = base.groupBy("_gi", "_v").agg(
        F.count("*").cast("long").alias("_c")
    )
    grid = (
        vals.crossJoin(F.broadcast(gtab.select("_gi")))
        .join(gv, ["_gi", "_v"], "left")
        .select(
            "_gi", "_v", F.coalesce(F.col("_c"), F.lit(0)).alias("_c")
        )
    )
    wg = Window.partitionBy("_gi").orderBy("_v")
    cum = grid.select(
        "_gi",
        "_v",
        "_c",
        (F.sum("_c").over(wg) - F.col("_c")).cast("long").alias("_lt"),
    )
    a = cum.select(
        F.col("_gi").alias("_ga"),
        "_v",
        F.col("_c").alias("_ca"),
        F.col("_lt").alias("_lta"),
    )
    b = cum.select(
        F.col("_gi").alias("_gb"), "_v", F.col("_c").alias("_cb")
    )
    jt = (
        a.join(b, "_v")
        .where(F.col("_ga") < F.col("_gb"))
        .groupBy()
        .agg(
            F.sum(
                F.col("_cb") * (2 * F.col("_lta") + F.col("_ca"))
            )
            .cast("long")
            .alias("jt2")
        )
    )
    sizes = base.groupBy("_gi").agg(F.count("*").cast("long").alias("_n"))
    mom = sizes.groupBy().agg(
        F.sum("_n").cast("long").alias("_N"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum(F.col("_n") * F.col("_n")).cast("long").alias("_sn2"),
        F.sum(F.col("_n") * F.col("_n") * (2 * F.col("_n") + 3))
        .cast("long")
        .alias("_sn23"),
    )
    out = jt.crossJoin(mom).select(
        F.col("_N").alias("n_total"),
        "k_groups",
        "jt2",
        ((F.col("_N") * F.col("_N") - F.col("_sn2")) / F.lit(2))
        .cast("long")
        .alias("e2"),
        F.round(
            (F.col("jt2") - (F.col("_N") * F.col("_N") - F.col("_sn2")) / F.lit(2))
            / (
                F.lit(2.0)
                * F.sqrt(
                    (
                        F.lit(1.0)
                        * F.col("_N")
                        * F.col("_N")
                        * (2 * F.col("_N") + 3)
                        - F.col("_sn23")
                    )
                    / F.lit(72.0)
                )
            )
            * 1000
        )
        .cast("long")
        .alias("z_milli"),
    )
    return out


def cochran_q(
    df: DataFrame,
    item_col: str,
    treat_col: str,
    flag_col: str,
    treatments: tuple,
) -> DataFrame:
    """Cochran's Q — the PAIRED k-treatment test for BINARY outcomes
    (friedman_test handles ranks of continuous cells; mcnemar is the
    k=2 special case): "do the channels' engagement RATES differ once
    the user is controlled for".  Input: one row per (item,
    treatment) with a boolean flag; missing cells count as False, so
    every item forms a complete block.

        Q = (k−1)·[k·ΣC_j² − (ΣC_j)²] / [k·ΣR_i − ΣR_i²]

    with column totals C_j and row totals R_i — every term an exact
    int64 (all-0 and all-1 items cancel from both numerator and
    denominator, so including them is harmless); Q is ONE terminal
    milli-rounded division.  χ²(k−1) under H0.

    Output (single row): (n_items, k_treatments, q_milli) plus one
    c_<treatment> total per treatment.
    """
    tlist = [str(t) for t in treatments]
    k = len(tlist)
    cell = (
        df.select(
            F.col(item_col).alias("_i"),
            F.col(treat_col).cast("string").alias("_t"),
            (flag_col if not isinstance(flag_col, str) else F.col(flag_col))
            .cast("boolean")
            .cast("long")
            .alias("_x"),
        )
        .where(F.col("_t").isin(*tlist))
        .groupBy("_i", "_t")
        .agg(F.max("_x").alias("_x"))
    )
    rows = cell.groupBy("_i").agg(F.sum("_x").cast("long").alias("_r"))
    rsum = rows.groupBy().agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("_r").cast("long").alias("_sr"),
        F.sum(F.col("_r") * F.col("_r")).cast("long").alias("_sr2"),
    )
    cols = cell.groupBy("_t").agg(F.sum("_x").cast("long").alias("_c"))
    csum = cols.groupBy().agg(
        F.sum("_c").cast("long").alias("_sc"),
        F.sum(F.col("_c") * F.col("_c")).cast("long").alias("_sc2"),
    )
    ctotals = cols.groupBy().pivot("_t", tlist).agg(F.first("_c"))
    ctotals = ctotals.select(
        *[F.col(t).cast("long").alias(f"c_{t}") for t in tlist]
    )
    num = F.lit(k - 1) * (
        F.lit(k) * F.col("_sc2") - F.col("_sc") * F.col("_sc")
    )
    den = F.lit(k) * F.col("_sr") - F.col("_sr2")
    return (
        rsum.crossJoin(csum)
        .crossJoin(ctotals)
        .select(
            "n_items",
            F.lit(k).cast("long").alias("k_treatments"),
            *[F.col(f"c_{t}") for t in tlist],
            F.when(
                den > 0,
                F.round((num * 1000).cast("double") / den).cast("long"),
            ).alias("q_milli"),
        )
    )


def fixed_effect_meta(
    df: DataFrame,
    stratum_col: str,
    arm_col,
    outcome_col,
) -> DataFrame:
    """Fixed-effect (inverse-variance) meta-analysis of a per-stratum
    risk difference, with Cochran's Q heterogeneity and I² — "pool the
    per-source A/B effects into one number, and say whether the
    sources even agree" (I² > 50% means the fixed-effect pool is
    hiding real heterogeneity).

    Per stratum: arm/outcome counts are exact int64; the risk
    difference d is a micro int (two rounded divisions);
    v = p1(1−p1)/n1 + p0(1−p0)/n0 is ONE fixed scalar DAG per stratum
    pinned to an integer v12 = round(v·1e12), and the weight
    w = 1e12 div v12 is integer — so the pooled numerator Σw·d, the
    denominator Σw, and Q's Σw·(d−pooled)² are INTEGER sums (never a
    double accumulation).  Degenerate strata (an empty arm or zero
    variance) are excluded by the same integer condition in both
    engines.  I² = max(0, (Q − df)/Q).

    Output per stratum: (stratum, n1, k1, n0, k0, d_micro, w) plus
    broadcast-attached (k_strata, pooled_micro, q_milli, i2_milli).
    """
    arm = (arm_col if not isinstance(arm_col, str) else F.col(arm_col)).cast(
        "boolean"
    ).cast("long")
    y = (
        outcome_col
        if not isinstance(outcome_col, str)
        else F.col(outcome_col)
    ).cast("boolean").cast("long")
    per = df.select(
        F.col(stratum_col).alias("_st"), arm.alias("_a"), y.alias("_y")
    ).groupBy("_st").agg(
        F.sum("_a").cast("long").alias("n1"),
        F.sum(F.col("_a") * F.col("_y")).cast("long").alias("k1"),
        F.sum(1 - F.col("_a")).cast("long").alias("n0"),
        F.sum((1 - F.col("_a")) * F.col("_y")).cast("long").alias("k0"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p0 = F.col("k0").cast("double") / F.col("n0")
    v = p1 * (1 - p1) / F.col("n1") + p0 * (1 - p0) / F.col("n0")
    staged = per.where((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        "_st",
        "n1",
        "k1",
        "n0",
        "k0",
        (
            F.round(F.col("k1") * F.lit(MICRO) / F.col("n1")).cast("long")
            - F.round(F.col("k0") * F.lit(MICRO) / F.col("n0")).cast("long")
        ).alias("d_micro"),
        F.round(v * F.lit(1e12)).cast("long").alias("_v12"),
    )
    strata = staged.where(F.col("_v12") > 0).select(
        "_st",
        "n1",
        "k1",
        "n0",
        "k0",
        "d_micro",
        F.expr("CAST(1000000000000 AS BIGINT) div _v12").alias("w"),
    )
    pool = strata.groupBy().agg(
        F.count("*").cast("long").alias("k_strata"),
        F.sum(F.col("w") * F.col("d_micro")).cast("long").alias("_num"),
        F.sum("w").cast("long").alias("_den"),
    )
    pool = pool.select(
        "k_strata",
        "_den",
        F.round(F.col("_num").cast("double") / F.col("_den"))
        .cast("long")
        .alias("pooled_micro"),
    )
    q = strata.crossJoin(F.broadcast(pool)).groupBy().agg(
        F.sum(
            F.col("w")
            * (F.col("d_micro") - F.col("pooled_micro"))
            * (F.col("d_micro") - F.col("pooled_micro"))
        )
        .cast("long")
        .alias("_qsum"),
        F.max("k_strata").alias("k_strata"),
        F.max("pooled_micro").alias("pooled_micro"),
    )
    g = q.select(
        "k_strata",
        "pooled_micro",
        F.round(F.col("_qsum") / F.lit(1e9)).cast("long").alias("q_milli"),
    )
    g = g.select(
        "k_strata",
        "pooled_micro",
        "q_milli",
        F.when(
            F.col("q_milli") > 0,
            F.greatest(
                F.lit(0).cast("long"),
                F.round(
                    (
                        (F.col("q_milli") - 1000 * (F.col("k_strata") - 1))
                        * 1000
                    ).cast("double")
                    / F.col("q_milli")
                ).cast("long"),
            ),
        ).alias("i2_milli"),
    )
    return strata.select(
        F.col("_st").alias(stratum_col),
        "n1",
        "k1",
        "n0",
        "k0",
        "d_micro",
        "w",
    ).crossJoin(F.broadcast(g))


def page_trend(
    df: DataFrame,
    block_col: str,
    treat_col: str,
    value_col: str,
    treat_order: tuple,
) -> DataFrame:
    """Page's L trend test + Kendall's W concordance over a complete
    block design — the ORDERED-treatment companion to friedman_test
    (Friedman asks "any treatment difference within blocks?"; Page
    asks "do treatments increase IN THIS ORDER?", strictly more
    powerful when the order is pre-specified) and W reports how
    CONSISTENTLY blocks agree on the ranking (0 = no agreement,
    1 = identical rankings everywhere).

    Same cell machinery as friedman_test (int64 cells, complete
    blocks, per-block doubled midranks): L2 = Σ_j order_j · R2_j is
    exact int64, the z numerator 6·L2 − 3·b·k·(k+1)² is integer, and
    the classical denominator √(b·k²·(k+1)·(k²−1)) is one IEEE sqrt;
    W = 3·S4/(b²·k·(k²−1)) with S4 = Σ_j (R2_j − b(k+1))² exact int64
    (untied form — cells are distinct-valued sums).

    Output (single row): (n_blocks, k_treatments, l2, w_micro,
    z_milli).
    """
    order = [str(t) for t in treat_order]
    spark = df.sparkSession
    otab = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(order)], "_t string, _oj long"
    )
    cells = df.groupBy(
        F.col(block_col).alias("_b"),
        F.col(treat_col).cast("string").alias("_t"),
    ).agg(F.sum(F.col(value_col)).cast("long").alias("_v"))
    k = len(order)
    complete = (
        cells.groupBy("_b")
        .agg(F.count("*").cast("long").alias("_kc"))
        .where(F.col("_kc") == k)
        .select("_b")
    )
    cc = cells.join(complete, "_b")
    hist = cc.groupBy("_b", "_v").agg(F.count("*").cast("long").alias("_c"))
    wb = Window.partitionBy("_b").orderBy("_v")
    dmid = hist.select(
        "_b",
        "_v",
        (2 * (F.sum("_c").over(wb) - F.col("_c")) + F.col("_c") + 1).alias(
            "_dmid"
        ),
    )
    r = (
        cc.join(dmid, ["_b", "_v"])
        .join(F.broadcast(otab), "_t")
        .groupBy("_t", "_oj")
        .agg(
            F.count("*").cast("long").alias("_nb"),
            F.sum("_dmid").cast("long").alias("_r2"),
        )
    )
    g = r.groupBy().agg(
        F.max("_nb").cast("long").alias("_B"),
        F.sum(F.col("_oj") * F.col("_r2")).cast("long").alias("l2"),
        F.sum(
            (F.col("_r2") - F.col("_nb") * (k + 1))
            * (F.col("_r2") - F.col("_nb") * (k + 1))
        )
        .cast("long")
        .alias("_s4"),
    )
    kk = F.lit(k).cast("long")
    return g.select(
        F.col("_B").alias("n_blocks"),
        kk.alias("k_treatments"),
        "l2",
        F.round(
            F.lit(3.0)
            * F.col("_s4")
            * F.lit(MICRO)
            / (
                F.lit(1.0)
                * F.col("_B")
                * F.col("_B")
                * kk
                * (kk * kk - 1)
            )
        )
        .cast("long")
        .alias("w_micro"),
        F.round(
            (
                F.lit(6) * F.col("l2")
                - F.lit(3) * F.col("_B") * kk * (kk + 1) * (kk + 1)
            )
            / F.sqrt(
                F.lit(1.0)
                * F.col("_B")
                * kk
                * kk
                * (kk + 1)
                * (kk * kk - 1)
            )
            * 1000
        )
        .cast("long")
        .alias("z_milli"),
    )


def cohens_d(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Cohen's d + Hedges' g effect size of each group's metric vs the
    rest of the corpus — the PARAMETRIC mean-shift companion to
    cliffs_delta (rank dominance): "how many pooled standard
    deviations apart are the means", with Hedges' small-sample
    correction J = 1 − 3/(4N − 9).

    Per group only three integer sums (n, Σx, Σx²); the complement's
    sums come from broadcast corpus totals by subtraction, so the
    whole report is one aggregation pass.  Means, pooled SD, d and g
    are ONE fixed scalar DAG per group (Σx·Σx past int64 is cast
    double first — qb13 discipline); NULL when either side has < 2
    rows or zero pooled variance.

    Output per group: (group, n_a, n_b, mean_a_milli, mean_b_milli,
    d_milli, g_milli).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
    )
    per = base.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_a"),
        F.sum("_x").cast("long").alias("_sx1"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sq1"),
    )
    tot = base.groupBy().agg(
        F.count("*").cast("long").alias("_N"),
        F.sum("_x").cast("long").alias("_SX"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_SQ"),
    )
    j = per.crossJoin(F.broadcast(tot)).select(
        "_g",
        "n_a",
        "_sx1",
        "_sq1",
        (F.col("_N") - F.col("n_a")).alias("n_b"),
        (F.col("_SX") - F.col("_sx1")).alias("_sx2"),
        (F.col("_SQ") - F.col("_sq1")).alias("_sq2"),
    )
    m1 = F.col("_sx1").cast("double") / F.col("n_a")
    m2 = F.col("_sx2").cast("double") / F.col("n_b")
    s1n = F.col("_sq1") - F.col("_sx1").cast("double") * F.col("_sx1") / F.col("n_a")
    s2n = F.col("_sq2") - F.col("_sx2").cast("double") * F.col("_sx2") / F.col("n_b")
    sp = F.sqrt((s1n + s2n) / (F.col("n_a") + F.col("n_b") - 2))
    d = (m1 - m2) / sp
    gcorr = d * (
        F.lit(1.0)
        - F.lit(3.0) / (F.lit(4.0) * (F.col("n_a") + F.col("n_b")) - 9)
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1)
    # groups that ARE the whole corpus have no complement to compare to
    j = j.where(F.col("n_b") > 0)
    return j.select(
        F.col("_g").alias(group_col),
        "n_a",
        "n_b",
        F.round(m1 * 1000).cast("long").alias("mean_a_milli"),
        F.round(m2 * 1000).cast("long").alias("mean_b_milli"),
        F.when(ok & (sp > 0), F.round(d * 1000).cast("long")).alias(
            "d_milli"
        ),
        F.when(ok & (sp > 0), F.round(gcorr * 1000).cast("long")).alias(
            "g_milli"
        ),
    )


def tost_equivalence(
    df: DataFrame,
    arm_col,
    outcome_col,
    margin_micro: int = 50_000,
    z_crit_milli: int = 1_645,
) -> DataFrame:
    """TOST (two one-sided tests) equivalence of two arms' rates — the
    SHIP gate qb13's difference test can't give you: "prove the new
    pipeline is NOT worse/different by more than δ" (failing to reject
    H0 of a difference is not evidence of equivalence; rejecting BOTH
    one-sided hypotheses |d| ≥ δ is).

        z_lower = (d + δ)/se,  z_upper = (δ − d)/se,
        equivalent ⟺ min(z_lower, z_upper) > z_crit

    Counts are exact int64; d is a micro int (two rounded divisions);
    se and the two z's are ONE fixed scalar DAG; the verdict compares
    milli-rounded z's against an integer threshold so both engines
    classify identically.

    Output (single row): (n1, k1, n0, k0, d_micro, se_micro,
    z_lower_milli, z_upper_milli, equivalent).
    """
    arm = (arm_col if not isinstance(arm_col, str) else F.col(arm_col)).cast(
        "boolean"
    ).cast("long")
    y = (
        outcome_col
        if not isinstance(outcome_col, str)
        else F.col(outcome_col)
    ).cast("boolean").cast("long")
    agg = df.select(arm.alias("_a"), y.alias("_y")).groupBy().agg(
        F.sum("_a").cast("long").alias("n1"),
        F.sum(F.col("_a") * F.col("_y")).cast("long").alias("k1"),
        F.sum(1 - F.col("_a")).cast("long").alias("n0"),
        F.sum((1 - F.col("_a")) * F.col("_y")).cast("long").alias("k0"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p0 = F.col("k0").cast("double") / F.col("n0")
    se = F.sqrt(
        p1 * (1 - p1) / F.col("n1") + p0 * (1 - p0) / F.col("n0")
    )
    d = (
        F.round(F.col("k1") * F.lit(MICRO) / F.col("n1")).cast("long")
        - F.round(F.col("k0") * F.lit(MICRO) / F.col("n0")).cast("long")
    )
    delta = F.lit(int(margin_micro))
    staged = agg.where((F.col("n1") > 0) & (F.col("n0") > 0)).select(
        "n1",
        "k1",
        "n0",
        "k0",
        d.alias("d_micro"),
        F.round(se * MICRO).cast("long").alias("se_micro"),
        F.when(
            se > 0,
            F.round((d + delta) / (se * MICRO) * 1000).cast("long"),
        ).alias("z_lower_milli"),
        F.when(
            se > 0,
            F.round((delta - d) / (se * MICRO) * 1000).cast("long"),
        ).alias("z_upper_milli"),
    )
    return staged.select(
        "*",
        (
            F.col("z_lower_milli").isNotNull()
            & (F.least("z_lower_milli", "z_upper_milli") > int(z_crit_milli))
        ).alias("equivalent"),
    )


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown-Forsythe variance-equality test — one-way ANOVA on
    |x − median_g|: "do the groups differ in SPREAD" (cohens_d and
    kruskal_wallis compare location; unequal spread silently breaks
    both alert bands and pooled-SD effect sizes).  Median-based, so
    robust to the heavy tails metric data always has.

    Group medians are exact type-1 quantiles from the per-group value
    histogram (qc00 idiom, windows PARTITIONED by group); |deviation|
    is int64; the F statistic's between-term uses per-group
    t_g = round((Σz_g)²/n_g) — ONE fixed scalar DAG per group (square
    cast double first), integer-summed — and the within-term is
    Σz² − Σt_g, all integers until the terminal F.

    Output per group: (group, n_a, median, mean_absdev_milli) plus
    broadcast-attached (k_groups, f_milli).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
    )
    hist = base.groupBy("_g", "_x").agg(
        F.count("*").cast("long").alias("_c")
    )
    wg = Window.partitionBy("_g").orderBy("_x")
    staged = hist.select(
        "_g",
        "_x",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_n"),
    )
    med = (
        staged.where(2 * F.col("_cum") >= F.col("_n"))
        .groupBy("_g")
        .agg(F.min("_x").cast("long").alias("_med"))
    )
    z = base.join(med, "_g").select(
        "_g", "_med", F.abs(F.col("_x") - F.col("_med")).alias("_z")
    )
    per = z.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_a"),
        F.max("_med").alias("median"),
        F.sum("_z").cast("long").alias("_sz"),
        F.sum(F.col("_z") * F.col("_z")).cast("long").alias("_sq"),
    )
    per = per.select(
        "_g",
        "n_a",
        "median",
        "_sz",
        "_sq",
        F.round(F.col("_sz").cast("double") * F.col("_sz") / F.col("n_a"))
        .cast("long")
        .alias("_t"),
    )
    g = per.groupBy().agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("n_a").cast("long").alias("_N"),
        F.sum("_sz").cast("long").alias("_SZ"),
        F.sum("_sq").cast("long").alias("_SQ"),
        F.sum("_t").cast("long").alias("_ST"),
    )
    between = F.col("_ST") - F.round(
        F.col("_SZ").cast("double") * F.col("_SZ") / F.col("_N")
    ).cast("long")
    within = F.col("_SQ") - F.col("_ST")
    g = g.select(
        "k_groups",
        F.when(
            (F.col("k_groups") > 1)
            & (F.col("_N") > F.col("k_groups"))
            & (within > 0),
            F.round(
                (between / (F.col("k_groups") - 1))
                / (within / (F.col("_N") - F.col("k_groups")))
                * 1000
            ).cast("long"),
        ).alias("f_milli"),
    )
    return per.select(
        F.col("_g").alias(group_col),
        "n_a",
        "median",
        F.round(F.col("_sz") * F.lit(1000) / F.col("n_a"))
        .cast("long")
        .alias("mean_absdev_milli"),
    ).crossJoin(F.broadcast(g))


def robust_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_pct: int = 10,
    hi_pct: int = 90,
) -> DataFrame:
    """Winsorized and (value-)trimmed means per group — the robust
    location pair for heavy-tailed metrics: winsorizing CLAMPS the
    tails to the percentile cut values, trimming DROPS rows outside
    them.  The plain mean moves with one whale; these don't.

    Cut values are exact type-1 quantiles from the per-group value
    histogram (100·cum ≥ p·n integer rank arithmetic, the qc00
    idiom — windows PARTITIONED by group); clamped/trimmed sums are
    integer folds over the SAME histogram (Σ clamp(v)·c), so no
    second pass over rows.  Trimming is value-based (every row tied
    with a cut value is kept), the deterministic convention a
    fixed-count trim can't give across engines.

    Output per group: (group, n, q_lo, q_hi, mean_milli,
    winsor_mean_milli, trimmed_mean_milli, n_kept).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
    )
    hist = base.groupBy("_g", "_x").agg(
        F.count("*").cast("long").alias("_c")
    )
    wg = Window.partitionBy("_g").orderBy("_x")
    staged = hist.select(
        "_g",
        "_x",
        "_c",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_n"),
    )
    cuts = staged.groupBy("_g").agg(
        F.max("_n").cast("long").alias("n"),
        F.min(
            F.when(
                100 * F.col("_cum") >= int(lo_pct) * F.col("_n"), F.col("_x")
            )
        )
        .cast("long")
        .alias("q_lo"),
        F.min(
            F.when(
                100 * F.col("_cum") >= int(hi_pct) * F.col("_n"), F.col("_x")
            )
        )
        .cast("long")
        .alias("q_hi"),
    )
    folded = (
        hist.join(cuts, "_g")
        .groupBy("_g")
        .agg(
            F.max("n").alias("n"),
            F.max("q_lo").alias("q_lo"),
            F.max("q_hi").alias("q_hi"),
            F.sum(F.col("_x") * F.col("_c")).cast("long").alias("_sx"),
            F.sum(
                F.greatest(F.least(F.col("_x"), F.col("q_hi")), F.col("q_lo"))
                * F.col("_c")
            )
            .cast("long")
            .alias("_sw"),
            F.sum(
                F.when(
                    (F.col("_x") >= F.col("q_lo"))
                    & (F.col("_x") <= F.col("q_hi")),
                    F.col("_x") * F.col("_c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("_st"),
            F.sum(
                F.when(
                    (F.col("_x") >= F.col("q_lo"))
                    & (F.col("_x") <= F.col("q_hi")),
                    F.col("_c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_kept"),
        )
    )
    return folded.select(
        F.col("_g").alias(group_col),
        "n",
        "q_lo",
        "q_hi",
        F.round(F.col("_sx") * F.lit(1000) / F.col("n"))
        .cast("long")
        .alias("mean_milli"),
        F.round(F.col("_sw") * F.lit(1000) / F.col("n"))
        .cast("long")
        .alias("winsor_mean_milli"),
        F.when(
            F.col("n_kept") > 0,
            F.round(F.col("_st") * F.lit(1000) / F.col("n_kept")).cast(
                "long"
            ),
        ).alias("trimmed_mean_milli"),
        "n_kept",
    )


def hellinger_tv(
    df: DataFrame,
    value_col: str,
    side_flag,
) -> DataFrame:
    """Hellinger distance + Bhattacharyya coefficient + total
    variation between two samples' value distributions — the bounded
    [0,1] distance pair completing the drift family: KS (qa08) is a
    max gap, PSI (qb69) is binned and unbounded, Wasserstein (qb96)
    has units, JSD (qb21) is entropy-flavored; Hellinger/TV are the
    metric-space standards bounded regardless of support.

    One distinct-value histogram with per-side counts (qb96 shape).
    TV's numerator Σ|c1·n2 − c2·n1| is EXACT int64 cross-
    multiplication with one terminal division; the Bhattacharyya
    coefficient Σ√(p1·p2) takes one sqrt per distinct value,
    nano-rounded per cell (1e9 — per-cell micro would lose the tail)
    then INTEGER-summed; Hellinger = √(1 − BC) is one terminal DAG.

    Output (single row): (n_a, n_b, n_values, bc_nano,
    hellinger_micro, tv_micro).
    """
    flag = side_flag if not isinstance(side_flag, str) else F.col(side_flag)
    base = df.select(
        F.col(value_col).cast("long").alias("_v"),
        F.when(flag, 1).otherwise(0).alias("_b"),
    )
    hist = base.groupBy("_v").agg(
        F.sum(1 - F.col("_b")).cast("long").alias("_ca"),
        F.sum("_b").cast("long").alias("_cb"),
    )
    tot = hist.groupBy().agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
    )
    cells = hist.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.sqrt(F.lit(1.0) * F.col("_ca") * F.col("_cb"))
            / F.sqrt(F.lit(1.0) * F.col("_na") * F.col("_nb"))
            * F.lit(1e9)
        )
        .cast("long")
        .alias("_bc"),
        F.abs(
            F.col("_ca") * F.col("_nb") - F.col("_cb") * F.col("_na")
        ).alias("_tvn"),
    )
    agg = cells.groupBy().agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("_bc").cast("long").alias("bc_nano"),
        F.sum("_tvn").cast("long").alias("_tvs"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        "n_values",
        "bc_nano",
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0), F.lit(1.0) - F.col("bc_nano") / F.lit(1e9)
                )
            )
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("hellinger_micro"),
        F.round(
            F.col("_tvs").cast("double")
            * 1000000
            / (F.lit(2.0) * F.col("_na") * F.col("_nb"))
        )
        .cast("long")
        .alias("tv_micro"),
    )


def dunn_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_crit_milli: int = 2_807,
) -> DataFrame:
    """Dunn's post-hoc pairwise test — WHICH groups differ, after
    kruskal_wallis's omnibus says SOME do: mean-rank differences over
    the pooled histogram with the tie-corrected variance, one z per
    group pair, flagged against a Bonferroni-adjusted critical value
    injected as an integer constant (default 2.807 = Φ⁻¹(1−0.05/20)
    for 10 pairs, two-sided 5%).

    Same doubled-midrank machinery as qc04 (the only unpartitioned
    window is the distinct-value spine); per-pair z is ONE fixed
    scalar DAG on exact integers (r2_i, n_i, N, T = Σ(t³−t)):
    z = ((r2_i/n_i − r2_j/n_j)/2) / √((N(N+1)/12 − T/(12(N−1)))·
    (1/n_i + 1/n_j)).

    Output per pair (group_a < group_b): (group_a, group_b, n_a, n_b,
    mean_rank2_a_micro, mean_rank2_b_micro, z_milli, significant).
    """
    vc = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.count("*").cast("long").alias("_c")
    )
    w = Window.orderBy("_v")
    ranked = vc.select(
        "_v",
        "_c",
        (2 * (F.sum("_c").over(w) - F.col("_c")) + F.col("_c") + 1).alias(
            "_dmid"
        ),
        (F.col("_c") * F.col("_c") * F.col("_c") - F.col("_c")).alias(
            "_tie"
        ),
    )
    gv = df.groupBy(F.col(group_col), F.col(value_col).alias("_v")).agg(
        F.count("*").cast("long").alias("_ca")
    )
    terms = (
        gv.join(ranked, "_v")
        .groupBy(group_col)
        .agg(
            F.sum("_ca").cast("long").alias("_n"),
            F.sum(F.col("_ca") * F.col("_dmid")).cast("long").alias("_r2"),
        )
    )
    glob = ranked.groupBy().agg(
        F.sum("_c").cast("long").alias("_N"),
        F.sum("_tie").cast("long").alias("_T"),
    )
    a = terms.select(
        F.col(group_col).alias("group_a"),
        F.col("_n").alias("n_a"),
        F.col("_r2").alias("_r2a"),
    )
    b = terms.select(
        F.col(group_col).alias("group_b"),
        F.col("_n").alias("n_b"),
        F.col("_r2").alias("_r2b"),
    )
    pairs = (
        a.crossJoin(b)
        .where(F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(glob))
    )
    mra = F.col("_r2a").cast("double") / F.col("n_a")
    mrb = F.col("_r2b").cast("double") / F.col("n_b")
    varfac = (
        F.lit(1.0) * F.col("_N") * (F.col("_N") + 1) / 12
        - F.col("_T") / (F.lit(12.0) * (F.col("_N") - 1))
    )
    z = ((mra - mrb) / 2) / F.sqrt(
        varfac * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    out = pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(mra * 1000000 / 2).cast("long").alias("mean_rank_a_micro"),
        F.round(mrb * 1000000 / 2).cast("long").alias("mean_rank_b_micro"),
        F.when(varfac > 0, F.round(z * 1000).cast("long")).alias("z_milli"),
    )
    return out.select(
        "*",
        (
            F.col("z_milli").isNotNull()
            & (F.abs(F.col("z_milli")) > int(z_crit_milli))
        ).alias("significant"),
    )


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r_xy·z — the correlation of x
    and y with the confounder z regressed out:
    r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).  The "is the
    click↔spend link real or just exposure" number that a raw Pearson
    (or qa60's Spearman) can't answer.

    Nine integer sums in ONE aggregation pass (Σx, Σy, Σz, Σx², Σy²,
    Σz², Σxy, Σxz, Σyz); each Pearson r is one fixed scalar DAG
    (N·Σxy exceeds int64 — cast double first, qb13), the partial is a
    second DAG on the three unrounded r's, everything rounded ONCE at
    the end.

    Output (single row): (n, r_xy_micro, r_xz_micro, r_yz_micro,
    partial_r_micro).
    """
    base = df.select(
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
        F.col(z_col).cast("long").alias("_z"),
    )
    s = base.groupBy().agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum("_z").cast("long").alias("_sz"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        F.sum(F.col("_z") * F.col("_z")).cast("long").alias("_szz"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_z")).cast("long").alias("_sxz"),
        F.sum(F.col("_y") * F.col("_z")).cast("long").alias("_syz"),
    )

    def r(sab, sa, sb, saa, sbb):
        num = F.lit(1.0) * F.col("_n") * F.col(sab) - F.col(sa).cast(
            "double"
        ) * F.col(sb)
        da = F.lit(1.0) * F.col("_n") * F.col(saa) - F.col(sa).cast(
            "double"
        ) * F.col(sa)
        db = F.lit(1.0) * F.col("_n") * F.col(sbb) - F.col(sb).cast(
            "double"
        ) * F.col(sb)
        return num / F.sqrt(da * db)

    rxy = r("_sxy", "_sx", "_sy", "_sxx", "_syy")
    rxz = r("_sxz", "_sx", "_sz", "_sxx", "_szz")
    ryz = r("_syz", "_sy", "_sz", "_syy", "_szz")
    part = (rxy - rxz * ryz) / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    return s.select(
        F.col("_n").alias("n"),
        F.round(rxy * 1000000).cast("long").alias("r_xy_micro"),
        F.round(rxz * 1000000).cast("long").alias("r_xz_micro"),
        F.round(ryz * 1000000).cast("long").alias("r_yz_micro"),
        F.when(
            (F.abs(F.round(rxz * 1000000)) < 1000000)
            & (F.abs(F.round(ryz * 1000000)) < 1000000),
            F.round(part * 1000000).cast("long"),
        ).alias("partial_r_micro"),
    )


def chi2_cell_residuals(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Adjusted (Haberman) standardized residuals of a contingency
    table — WHICH cells drive the dependence that qb92's Cramér's V
    summarizes: r_ij = (O−E)/√(E·(1−rowshare)(1−colshare)), |r| > 2-3
    marks the driving cells.  Also emits each cell's χ² contribution.

    Counts/margins exact int64; E = row·col/N and each residual are
    ONE fixed scalar DAG per cell (row·col past int64 is cast double
    first), milli-rounded; the total χ² is the INTEGER sum of
    per-cell milli contributions.

    Output per cell: (row, col, n, expected_milli, chi2_part_milli,
    std_residual_milli) plus broadcast-attached (chi2_milli, df_chi).
    """
    cell = df.groupBy(
        F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
    ).agg(F.count("*").cast("long").alias("n"))
    tot = df.groupBy().agg(
        F.count("*").cast("long").alias("_N"),
        F.countDistinct(F.col(row_col)).cast("long").alias("_nrows"),
        F.countDistinct(F.col(col_col)).cast("long").alias("_ncols"),
    )
    # margins as partitioned window sums over the cell table itself —
    # tiny (R×C rows) and avoids any self-join lineage
    j = cell.select(
        "_r",
        "_c",
        "n",
        F.sum("n").over(Window.partitionBy("_r")).cast("long").alias("_nr"),
        F.sum("n").over(Window.partitionBy("_c")).cast("long").alias("_nc"),
    ).crossJoin(F.broadcast(tot))
    e = F.col("_nr").cast("double") * F.col("_nc") / F.col("_N")
    chi_part = (F.col("n") - e) * (F.col("n") - e) / e
    adj = (F.col("n") - e) / F.sqrt(
        e
        * (1 - F.col("_nr").cast("double") / F.col("_N"))
        * (1 - F.col("_nc").cast("double") / F.col("_N"))
    )
    terms = j.select(
        F.col("_r").alias(row_col),
        F.col("_c").alias(col_col),
        "n",
        F.round(e * 1000).cast("long").alias("expected_milli"),
        F.round(chi_part * 1000).cast("long").alias("chi2_part_milli"),
        F.round(adj * 1000).cast("long").alias("std_residual_milli"),
        F.col("_nrows").alias("_RR"),
        F.col("_ncols").alias("_CC"),
    )
    g = terms.groupBy().agg(
        F.sum("chi2_part_milli").cast("long").alias("chi2_milli"),
        ((F.max("_RR") - 1) * (F.max("_CC") - 1))
        .cast("long")
        .alias("df_chi"),
    )
    return terms.drop("_RR", "_CC").crossJoin(F.broadcast(g))


def cramer_von_mises(
    df: DataFrame,
    value_col: str,
    side_flag,
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion — the INTEGRATED squared
    EDF gap, completing the two-sample family: KS (qa08) takes the
    max gap, Wasserstein (qb96) integrates the absolute gap over
    values, CvM integrates the SQUARED gap over the pooled empirical
    measure (tail-insensitive, shape-sensitive):

        T = (n·m)/(n+m)² · Σ_v w_v/(n+m) · (F_A(v) − F_B(v))²

    with w_v = pooled count at v.  Per distinct value the gap
    cross-multiplication g = cumA·m − cumB·n is EXACT int64; g² needs
    double (qb13), so each value's term is micro-rounded from ONE
    fixed DAG then INTEGER-summed; the leading constant is a terminal
    DAG.  One histogram, windows over the distinct-value spine only.

    Output (single row): (n_a, n_b, n_values, t_micro).
    """
    flag = side_flag if not isinstance(side_flag, str) else F.col(side_flag)
    base = df.select(
        F.col(value_col).cast("long").alias("_v"),
        F.when(flag, 1).otherwise(0).alias("_b"),
    )
    hist = base.groupBy("_v").agg(
        F.sum(1 - F.col("_b")).cast("long").alias("_ca"),
        F.sum("_b").cast("long").alias("_cb"),
    )
    w = Window.orderBy("_v")
    cum = hist.select(
        "_v",
        (F.col("_ca") + F.col("_cb")).alias("_w"),
        F.sum("_ca").over(w).cast("long").alias("_cuma"),
        F.sum("_cb").over(w).cast("long").alias("_cumb"),
    )
    tot = hist.groupBy().agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
    )
    # per-value term: w_v * (g/(n*m))^2 in micro, g = cumA*m - cumB*n
    cells = cum.crossJoin(F.broadcast(tot)).select(
        F.round(
            F.col("_w")
            * (
                (
                    F.col("_cuma") * F.col("_nb")
                    - F.col("_cumb") * F.col("_na")
                ).cast("double")
                / (F.lit(1.0) * F.col("_na") * F.col("_nb"))
            )
            * (
                (
                    F.col("_cuma") * F.col("_nb")
                    - F.col("_cumb") * F.col("_na")
                ).cast("double")
                / (F.lit(1.0) * F.col("_na") * F.col("_nb"))
            )
            * F.lit(MICRO)
        )
        .cast("long")
        .alias("_t")
    )
    agg = cells.groupBy().agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("_t").cast("long").alias("_ts"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        "n_values",
        F.round(
            F.lit(1.0)
            * F.col("_na")
            * F.col("_nb")
            / ((F.col("_na") + F.col("_nb")) * (F.col("_na") + F.col("_nb")))
            * F.col("_ts")
            / (F.col("_na") + F.col("_nb"))
        )
        .cast("long")
        .alias("t_micro"),
    )


def theil_decomposition(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Theil-T inequality index with the exact between/within
    decomposition — the property Gini (qb32) famously lacks: how much
    of the corpus's size inequality lives BETWEEN sources (fix the
    mix) vs WITHIN them (fix the sources).

        T       = Σ_i (x_i/X)·ln(N·x_i/X)
        T_betw  = Σ_g (X_g/X)·ln((X_g/X)/(N_g/N))
        T_with  = T − T_betw          (identity, exact in micro ints)

    Log discipline (q66): ln is taken ONCE per distinct value as
    Δln = ln_micro(N·v) − ln_micro(X), so the numerator
    Σ c·v·Δln is an INTEGER sum (never a double accumulation); the
    between terms take one ln pair per GROUP.  Each reported index is
    one terminal division.

    Output per group: (group, n_g, sum_g, share_micro,
    tb_term_micro) plus broadcast-attached (theil_total_micro,
    theil_between_micro, theil_within_micro).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
    ).where(F.col("_x") > 0)
    tot = base.groupBy().agg(
        F.count("*").cast("long").alias("_N"),
        F.sum("_x").cast("long").alias("_xt"),
    )
    hist = base.groupBy("_x").agg(F.count("*").cast("long").alias("_c"))
    cells = hist.crossJoin(F.broadcast(tot)).select(
        (
            F.col("_c")
            * F.col("_x")
            * (
                _ln_micro(F.col("_N") * F.col("_x"))
                - _ln_micro(F.col("_xt"))
            )
        )
        .cast("long")
        .alias("_t")
    )
    total = cells.groupBy().agg(F.sum("_t").cast("long").alias("_ts"))
    per = base.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("_x").cast("long").alias("sum_g"),
    )
    per = per.crossJoin(F.broadcast(tot)).select(
        "_g",
        "n_g",
        "sum_g",
        F.round(F.col("sum_g") * F.lit(MICRO) / F.col("_xt"))
        .cast("long")
        .alias("share_micro"),
        F.round(
            F.col("sum_g").cast("double")
            * (
                _ln_micro(F.col("sum_g") * F.col("_N"))
                - _ln_micro(F.col("_xt") * F.col("n_g"))
            )
            / F.col("_xt")
        )
        .cast("long")
        .alias("tb_term_micro"),
    )
    tb = per.groupBy().agg(
        F.sum("tb_term_micro").cast("long").alias("theil_between_micro")
    )
    g = (
        total.crossJoin(tb)
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(F.col("_ts").cast("double") / F.col("_xt"))
            .cast("long")
            .alias("theil_total_micro"),
            "theil_between_micro",
        )
    )
    g = g.select(
        "theil_total_micro",
        "theil_between_micro",
        (F.col("theil_total_micro") - F.col("theil_between_micro"))
        .cast("long")
        .alias("theil_within_micro"),
    )
    return per.select(
        F.col("_g").alias(group_col), "n_g", "sum_g", "share_micro",
        "tb_term_micro",
    ).crossJoin(F.broadcast(g))


def median_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Distribution-free 95% confidence interval for the median via
    order statistics — the binomial argument needs NO normality and
    NO bootstrap: ranks ⌈n/2 − 1.96·√n/2⌉ and ⌊n/2 + 1 + 1.96·√n/2⌋
    bracket the true median with ≥95% coverage (normal approximation
    to Binomial(n, ½)).  The honest error bar for the qc28/qc00
    medians ops dashboards quote bare.

    Ranks are one fixed scalar DAG on n (ceil/floor of identical IEEE
    expressions in both engines, clamped to [1, n]); the three order
    statistics come straight from the per-group value histogram's
    cumulative counts (qc00 idiom, windows PARTITIONED by group).

    Output per group: (group, n, lo_rank, hi_rank, median, ci_lo,
    ci_hi).
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
    )
    hist = base.groupBy("_g", "_x").agg(
        F.count("*").cast("long").alias("_c")
    )
    wg = Window.partitionBy("_g").orderBy("_x")
    staged = hist.select(
        "_g",
        "_x",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_n"),
    )
    half = F.col("_n") / F.lit(2.0)
    spread = F.lit(1.96) * F.sqrt(F.col("_n").cast("double")) / F.lit(2.0)
    lo_rank = F.greatest(F.lit(1).cast("long"), F.ceil(half - spread))
    hi_rank = F.least(F.col("_n"), F.floor(half + 1 + spread).cast("long"))
    med_rank = F.ceil(half).cast("long")
    staged = staged.select(
        "_g",
        "_x",
        "_cum",
        "_n",
        lo_rank.alias("_lo"),
        hi_rank.alias("_hi"),
        med_rank.alias("_md"),
    )
    return staged.groupBy("_g").agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_lo").cast("long").alias("lo_rank"),
        F.max("_hi").cast("long").alias("hi_rank"),
        F.min(F.when(F.col("_cum") >= F.col("_md"), F.col("_x")))
        .cast("long")
        .alias("median"),
        F.min(F.when(F.col("_cum") >= F.col("_lo"), F.col("_x")))
        .cast("long")
        .alias("ci_lo"),
        F.min(F.when(F.col("_cum") >= F.col("_hi"), F.col("_x")))
        .cast("long")
        .alias("ci_hi"),
    ).select(
        F.col("_g").alias(group_col),
        "n", "lo_rank", "hi_rank", "median", "ci_lo", "ci_hi",
    )


def anderson_darling_2samp(
    df: DataFrame,
    value_col: str,
    side_flag,
) -> DataFrame:
    """Two-sample Anderson-Darling criterion, tie-adjusted (Scholz &
    Stephens 1987, the midrank A²_akN that scipy's anderson_ksamp
    uses) — the fourth EDF distance: KS (qa08) takes the max gap, CvM
    (qc37) integrates the squared gap, Wasserstein (qb96) the absolute
    gap, and AD re-weights the squared gap by 1/(F(1−F)) so TAIL
    disagreement counts — the drift test that fires when only the
    extremes moved.

    Doubled-midrank exactness (the qa22 idiom): with D = 2·cum − l the
    doubled midrank position and Md_j = 2·cum_j − l_j per sample, each
    distinct value contributes (per sample j)

        term_j = l·(N·Md_j − n_j·D)² / (N·(D·(2N−D) − N·l))

    — every input an exact int64 from the value histogram (the
    doubling 4s cancel between the squared numerator and the
    denominator); the square needs double, so each term is
    micro-rounded from ONE fixed DAG then INTEGER-summed (qb13/CvM
    discipline), and

        A² = (N−1)/N · (S_a/n_a + S_b/n_b)

    One histogram shuffle; windows over the distinct-value spine only.

    Output (single row): n_a, n_b, n_values, a2_micro.
    """
    flag = side_flag if not isinstance(side_flag, str) else F.col(side_flag)
    base = df.select(
        F.col(value_col).cast("long").alias("_v"),
        F.when(flag, 1).otherwise(0).alias("_b"),
    )
    hist = base.groupBy("_v").agg(
        F.sum(1 - F.col("_b")).cast("long").alias("_la"),
        F.sum("_b").cast("long").alias("_lb"),
    )
    w = Window.orderBy("_v")
    cum = hist.select(
        "_v",
        (F.col("_la") + F.col("_lb")).alias("_l"),
        F.col("_la"),
        F.col("_lb"),
        F.sum(F.col("_la") + F.col("_lb")).over(w).cast("long").alias("_cum"),
        F.sum("_la").over(w).cast("long").alias("_cuma"),
        F.sum("_lb").over(w).cast("long").alias("_cumb"),
    )
    tot = hist.groupBy().agg(
        F.sum("_la").cast("long").alias("_na"),
        F.sum("_lb").cast("long").alias("_nb"),
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        "_l",
        (F.col("_na") + F.col("_nb")).alias("_N"),
        (2 * F.col("_cum") - F.col("_l")).alias("_D"),
        (2 * F.col("_cuma") - F.col("_la")).alias("_mda"),
        (2 * F.col("_cumb") - F.col("_lb")).alias("_mdb"),
        "_na",
        "_nb",
    )
    den = F.col("_N") * (
        F.col("_D") * (2 * F.col("_N") - F.col("_D"))
        - F.col("_N") * F.col("_l")
    )
    numa = F.col("_N") * F.col("_mda") - F.col("_na") * F.col("_D")
    numb = F.col("_N") * F.col("_mdb") - F.col("_nb") * F.col("_D")
    terms = j.where(den > 0).select(
        F.round(
            F.col("_l") * numa.cast("double") * numa / den * F.lit(MICRO)
        ).cast("long").alias("_ta"),
        F.round(
            F.col("_l") * numb.cast("double") * numb / den * F.lit(MICRO)
        ).cast("long").alias("_tb"),
    )
    agg = terms.groupBy().agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("_ta").cast("long").alias("_sa"),
        F.sum("_tb").cast("long").alias("_sb"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        "n_values",
        F.round(
            (F.col("_na") + F.col("_nb") - 1).cast("double")
            / (F.col("_na") + F.col("_nb"))
            * (
                F.col("_sa").cast("double") / F.col("_na")
                + F.col("_sb").cast("double") / F.col("_nb")
            )
        )
        .cast("long")
        .alias("a2_micro"),
    )


def ordinal_association(
    per_unit: DataFrame,
    x_col: str,
    y_col: str,
    max_level: int = 19,
) -> DataFrame:
    """Goodman-Kruskal gamma + Somers' D (both directions) on the same
    bounded (x, y) grid kendall_tau_b (qb93) runs on — the rest of the
    concordance family: gamma ignores ALL ties (the optimist), Somers'
    D_yx penalizes ties on the dependent Y only (THE effect size under
    an x→y reading — it is what ROC-AUC generalizes: D_yx = 2·AUC − 1
    for binary x), and the two D directions differ exactly when the
    tie structure is asymmetric.

    All pair counts (C, D, per-axis tie pair counts) are exact int64
    sums of cell-count products over the ≤(max_level+1)² cell
    self-join — never a row-level pair join; each index is ONE
    terminal division, milli-rounded.

    Output (single row): n, n_cells, concordant, discordant,
    gamma_milli, somers_d_yx_milli, somers_d_xy_milli.
    """
    g = (
        per_unit.select(
            F.least(F.col(x_col).cast("long"), F.lit(int(max_level)))
            .alias("_x"),
            F.least(F.col(y_col).cast("long"), F.lit(int(max_level)))
            .alias("_y"),
        )
        .groupBy("_x", "_y")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    a = g.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_n").alias("_na"),
    )
    b = g.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_n").alias("_nb"),
    )
    cd = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("_xb") > F.col("_xa")) & (F.col("_yb") > F.col("_ya")),
                F.col("_na") * F.col("_nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(
                (F.col("_xb") > F.col("_xa")) & (F.col("_yb") < F.col("_ya")),
                F.col("_na") * F.col("_nb"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("discordant"),
    )
    tx = (
        g.groupBy("_x")
        .agg(F.sum("_n").cast("long").alias("_t"))
        .agg(
            (F.sum(F.col("_t") * (F.col("_t") - 1)) / 2)
            .cast("long")
            .alias("_txp")
        )
    )
    ty = (
        g.groupBy("_y")
        .agg(F.sum("_n").cast("long").alias("_t"))
        .agg(
            (F.sum(F.col("_t") * (F.col("_t") - 1)) / 2)
            .cast("long")
            .alias("_typ")
        )
    )
    tot = g.agg(
        F.sum("_n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
    )
    out = (
        cd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    num = F.col("concordant") - F.col("discordant")
    return out.select(
        "n",
        "n_cells",
        "concordant",
        "discordant",
        F.when(
            F.col("concordant") + F.col("discordant") > 0,
            F.round(
                num * F.lit(1000)
                / (F.col("concordant") + F.col("discordant"))
            ).cast("long"),
        ).alias("gamma_milli"),
        F.when(
            n0 - F.col("_txp") > 0,
            F.round(num * F.lit(1000) / (n0 - F.col("_txp"))).cast("long"),
        ).alias("somers_d_yx_milli"),
        F.when(
            n0 - F.col("_typ") > 0,
            F.round(num * F.lit(1000) / (n0 - F.col("_typ"))).cast("long"),
        ).alias("somers_d_xy_milli"),
    )


def durbin_watson_daily(
    df: DataFrame,
    ts_col: str,
    value_col,
) -> DataFrame:
    """Durbin-Watson statistic of daily-total residuals around the OLS
    time trend — residual AUTOCORRELATION, the diagnostic qa70 (ACF)
    and qb97 (Ljung-Box) run on the raw series but belongs on the
    DETRENDED one: DW ≈ 2 means the trend fit left white noise,
    DW → 0 trending residuals (the fit is wrong / drift remains),
    DW → 4 alternation.

    Integer-exact residuals: with t the 0-based day RANK, the OLS
    denominator Dd = n·Σt² − (Σt)² clears every fraction —

        rt = Dd·y_t − (Σy·Σt² − Σt·Σty) − (n·Σty − Σt·Σy)·t

    is pure int64 (scaled residual, Dd× the real one).  The two
    squared sums overflow int64, so they accumulate as decimal(38,0)
    in Spark / HUGEINT in DuckDB — the approved decimal-cast-sums →
    cast-double-at-the-end pattern; Dd² cancels in the ratio.  Lag
    runs on the day spine (bounded window).

    Output (single row): n_days, slope_milli (cents/day), dw_milli.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    daily = (
        df.select(
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP))"
                " div 86400000000"
            ).alias("_d"),
            v.cast("long").alias("_v"),
        )
        .groupBy("_d")
        .agg(F.sum("_v").cast("long").alias("_y"))
    )
    wd = Window.orderBy("_d")
    idx = daily.select(
        (F.row_number().over(wd) - 1).cast("long").alias("_t"), "_y"
    )
    s = idx.groupBy().agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_t").cast("long").alias("_st"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_stt"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_t") * F.col("_y")).cast("long").alias("_sty"),
    )
    j = idx.crossJoin(F.broadcast(s))
    dd = F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")
    da = F.col("_sy") * F.col("_stt") - F.col("_st") * F.col("_sty")
    db = F.col("_n") * F.col("_sty") - F.col("_st") * F.col("_sy")
    res = j.select(
        "_t",
        (dd * F.col("_y") - da - db * F.col("_t")).cast("long").alias("_r"),
        db.alias("_db"),
        dd.alias("_dd"),
    )
    wlag = Window.orderBy("_t")
    res2 = res.select(
        "_r",
        (F.col("_r") - F.lag("_r").over(wlag)).alias("_dr"),
        "_db",
        "_dd",
    )
    agg = res2.groupBy().agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(
            F.col("_r").cast("decimal(38,0)") * F.col("_r")
        ).alias("_sr2"),
        F.sum(
            F.col("_dr").cast("decimal(38,0)") * F.col("_dr")
        ).alias("_sd2"),
        F.max("_db").alias("_dbx"),
        F.max("_dd").alias("_ddx"),
    )
    return agg.select(
        "n_days",
        F.when(
            F.col("_ddx") != 0,
            F.round(
                F.col("_dbx").cast("double") * 1000 / F.col("_ddx")
            ).cast("long"),
        ).alias("slope_milli"),
        F.when(
            F.col("_sr2").cast("double") > 0,
            F.round(
                F.col("_sd2").cast("double")
                * 1000
                / F.col("_sr2").cast("double")
            ).cast("long"),
        ).alias("dw_milli"),
    )


def stuart_maxwell(
    df: DataFrame,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """Stuart-Maxwell marginal-homogeneity test for PAIRED 3-category
    labels — McNemar's (qb14) k=3 generalization: did the category
    DISTRIBUTION shift between two paired measurements (same units,
    before/after), using only the off-diagonal disagreement structure.

    With margins r_i (pre) and c_i (post) over categories {0,1,2},
    d = (r0−c0, r1−c1) and the 2×2 covariance

        S = [[r0+c0−2·n00,  −(n01+n10)],
             [−(n01+n10),   r1+c1−2·n11]]

    the statistic χ² = dᵀS⁻¹d (df = 2) comes out of the 2×2 adjugate
    as pure int64 — (d0²·s11 − 2·d0·d1·s01 + d1²·s00)/det with
    det = s00·s11 − s01² — one terminal division (numerator cast
    double before its milli scale, qa91 rule).  Cost: one 9-cell
    aggregation.

    Output (single row): n, d0, d1, s00, s01, s11, det, chi2_milli
    (NULL when det ≤ 0 — degenerate pairing).
    """
    cat = lambda c: F.col(c).cast("long")  # noqa: E731
    cells = df.select(
        cat(pre_col).alias("_p"), cat(post_col).alias("_q")
    )
    one = cells.groupBy().agg(
        F.count("*").cast("long").alias("n"),
        *[
            F.sum(
                F.when((F.col("_p") == i) & (F.col("_q") == j), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"_n{i}{j}")
            for i in range(3)
            for j in range(3)
        ],
    )
    r = lambda i: sum(F.col(f"_n{i}{j}") for j in range(3))  # noqa: E731
    c = lambda j: sum(F.col(f"_n{i}{j}") for i in range(3))  # noqa: E731
    d0 = r(0) - c(0)
    d1 = r(1) - c(1)
    s00 = r(0) + c(0) - 2 * F.col("_n00")
    s11 = r(1) + c(1) - 2 * F.col("_n11")
    s01 = -(F.col("_n01") + F.col("_n10"))
    det = s00 * s11 - s01 * s01
    num = d0 * d0 * s11 - 2 * d0 * d1 * s01 + d1 * d1 * s00
    return one.select(
        "n",
        d0.cast("long").alias("d0"),
        d1.cast("long").alias("d1"),
        s00.cast("long").alias("s00"),
        s01.cast("long").alias("s01"),
        s11.cast("long").alias("s11"),
        det.cast("long").alias("det"),
        F.when(
            det > 0,
            F.round(num.cast("double") * 1000 / det).cast("long"),
        ).alias("chi2_milli"),
    )


def greenwood_bands(km: DataFrame, z_milli: int = 1960) -> DataFrame:
    """Greenwood pointwise confidence bands over a kaplan_meier output
    frame — the uncertainty qa67's point estimate ships without:

        Var(ln S) ≈ Σ d/(n·(n−d))        (Greenwood 1926)
        SE(S)     = S · sqrt(cum)         CI = S ± z·SE, clamped [0,1]

    Per-event-time terms d/(n(n−d)) are PICO-rounded (1e-12 — micro
    would round sub-1e-6 hazards to zero) from one integer DAG then
    integer-cumsummed over the event-time spine (bounded window, the
    qa67 class); S re-derives from the integer ln_s_micro so the whole
    band is a fixed DAG over two integers.  Rows where the risk set
    died out (ln_s NULL) emit NULL bands.

    Output per event time: duration, survival_micro, se_micro,
    ci_lo_micro, ci_hi_micro.
    """
    g = km.select(
        "duration",
        "survival_micro",
        "ln_s_micro",
        F.when(
            F.col("n_at_risk") > F.col("n_events"),
            F.round(
                F.col("n_events")
                * F.lit(1e12)
                / (
                    F.col("n_at_risk")
                    * (F.col("n_at_risk") - F.col("n_events"))
                )
            ).cast("long"),
        ).alias("_gp"),
    )
    w = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "duration",
        "survival_micro",
        "ln_s_micro",
        F.sum("_gp").over(w).cast("long").alias("_gcum"),
    )
    s_raw = F.exp(F.col("ln_s_micro").cast("double") / MICRO)
    se_raw = s_raw * F.sqrt(F.col("_gcum").cast("double") / F.lit(1e12))
    z = z_milli / 1000.0
    live = F.col("ln_s_micro").isNotNull()
    return c.select(
        "duration",
        "survival_micro",
        F.when(live, F.round(se_raw * MICRO).cast("long")).alias(
            "se_micro"
        ),
        F.when(
            live,
            F.greatest(
                F.lit(0).cast("long"),
                F.round((s_raw - z * se_raw) * MICRO).cast("long"),
            ),
        ).alias("ci_lo_micro"),
        F.when(
            live,
            F.least(
                F.lit(MICRO).cast("long"),
                F.round((s_raw + z * se_raw) * MICRO).cast("long"),
            ),
        ).alias("ci_hi_micro"),
    )


def quantile_treatment_effects(
    df: DataFrame,
    treat_flag,
    value_col: str,
    pcts: list[int] | None = None,
) -> DataFrame:
    """Quantile treatment effects — the DISTRIBUTIONAL view of an A/B
    contrast that mean-based readouts (qb10 DiD, qa87 CUPED, qc24
    Cohen's d) cannot give: QTE(p) = q_T(p) − q_C(p) per percentile,
    showing WHERE in the outcome distribution the effect lives (a
    pure tail effect has zero median QTE).

    Exact type-1 quantiles per arm from one (arm, value) histogram:
    rank = ceil(p·n/100) as pure integer (p·n + 99) div 100, quantile
    = min value whose cumulative count reaches it (the q54/qb43
    idiom); both arms and all percentiles come off the SAME histogram
    scan, windows over the per-arm value spine only.

    Output per percentile: p_pct, n_t, n_c, q_t, q_c, qte (= all
    exact integers, no rounding anywhere).
    """
    if pcts is None:
        pcts = [10, 25, 50, 75, 90]
    flag = (
        treat_flag if not isinstance(treat_flag, str) else F.col(treat_flag)
    )
    base = df.select(
        flag.cast("boolean").alias("_t"),
        F.col(value_col).cast("long").alias("_v"),
    )
    hist = base.groupBy("_t", "_v").agg(
        F.count("*").cast("long").alias("_c")
    )
    w = (
        Window.partitionBy("_t")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "_t", "_v", F.sum("_c").over(w).cast("long").alias("_cum")
    )
    tot = hist.groupBy("_t").agg(F.sum("_c").cast("long").alias("_n"))
    p_arr = F.array(*[F.lit(int(p)) for p in pcts])
    grid = (
        cum.join(F.broadcast(tot), "_t")
        .select(
            "_t",
            "_v",
            "_cum",
            "_n",
            F.explode(p_arr).alias("_pp"),
        )
        .select(
            "_t",
            "_v",
            "_cum",
            "_n",
            F.col("_pp").cast("long").alias("p_pct"),
        )
        .where(
            F.col("_cum")
            >= F.expr("(p_pct * _n + 99) div 100")
        )
        .groupBy("_t", "p_pct")
        .agg(
            F.min("_v").cast("long").alias("_q"),
            F.max("_n").cast("long").alias("_nn"),
        )
    )
    out = grid.groupBy("p_pct").agg(
        F.max(F.when(F.col("_t"), F.col("_nn"))).alias("n_t"),
        F.max(F.when(~F.col("_t"), F.col("_nn"))).alias("n_c"),
        F.max(F.when(F.col("_t"), F.col("_q"))).alias("q_t"),
        F.max(F.when(~F.col("_t"), F.col("_q"))).alias("q_c"),
    )
    return out.select(
        "p_pct",
        "n_t",
        "n_c",
        "q_t",
        "q_c",
        (F.col("q_t") - F.col("q_c")).cast("long").alias("qte"),
    )


def weibull_median_rank(
    df: DataFrame,
    duration_col: str,
) -> DataFrame:
    """Weibull shape/scale via median-rank regression (Bernard's
    approximation) — the parametric counterpart to the nonparametric
    survival stack (KM qa67 / NA qb85 / RMST qc12): shape k < 1 means
    infant-mortality-style dropoff, k > 1 wear-out; scale λ is the
    63.2% lifetime.  Uncensored-only by declared semantics (median
    ranks with suspensions need adjusted ranks — out of scope).

    Plan: one duration histogram; per DISTINCT duration the highest
    rank (cumulative count — ties collapse to one grid point, the
    qb02 grid-OLS semantics) gives F = (cum−0.3)/(n+0.4), and the
    regression runs on milli-nat points x = ln t, y = ln(−ln(1−F)) —
    each micro-rounded ONCE from integers (cum, n, t), then
    count-weighted integer sums; the OLS combination casts double
    past the int64 bound (qc43 pattern).  scale = exp(−b/k) is one
    terminal DAG.

    Output (single row): n, n_values, shape_milli, scale_value,
    r2_milli (fit quality on the weighted grid).
    """
    base = df.select(F.col(duration_col).cast("long").alias("_d")).where(
        F.col("_d") >= 1
    )
    hist = base.groupBy("_d").agg(F.count("*").cast("long").alias("_c"))
    wv = Window.orderBy("_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = hist.agg(F.sum("_c").cast("long").alias("_n"))
    pts = (
        hist.select(
            "_d", "_c", F.sum("_c").over(wv).cast("long").alias("_cum")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "_c",
            F.round(F.log(F.col("_d").cast("double")) * 1000)
            .cast("long")
            .alias("_x"),
            F.round(
                F.log(
                    -F.log(
                        F.lit(1.0)
                        - (F.col("_cum") - F.lit(0.3))
                        / (F.col("_n") + F.lit(0.4))
                    )
                )
                * 1000
            )
            .cast("long")
            .alias("_y"),
        )
    )
    s = pts.groupBy().agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("_c").cast("long").alias("n"),
        F.sum(F.col("_c") * F.col("_x")).cast("long").alias("_sx"),
        F.sum(F.col("_c") * F.col("_y")).cast("long").alias("_sy"),
        F.sum(F.col("_c") * F.col("_x") * F.col("_x"))
        .cast("long")
        .alias("_sxx"),
        F.sum(F.col("_c") * F.col("_y") * F.col("_y"))
        .cast("long")
        .alias("_syy"),
        F.sum(F.col("_c") * F.col("_x") * F.col("_y"))
        .cast("long")
        .alias("_sxy"),
    )
    num = (
        F.col("n").cast("double") * F.col("_sxy")
        - F.col("_sx").cast("double") * F.col("_sy")
    )
    den = (
        F.col("n").cast("double") * F.col("_sxx")
        - F.col("_sx").cast("double") * F.col("_sx")
    )
    deny = (
        F.col("n").cast("double") * F.col("_syy")
        - F.col("_sy").cast("double") * F.col("_sy")
    )
    k = num / den
    b = (F.col("_sy") / 1000.0 - k * (F.col("_sx") / 1000.0)) / F.col("n")
    return s.select(
        "n",
        "n_values",
        F.when(den != 0, F.round(k * 1000).cast("long")).alias(
            "shape_milli"
        ),
        F.when(
            (den != 0) & (num != 0), F.round(F.exp(-b / k)).cast("long")
        ).alias("scale_value"),
        F.when(
            (den != 0) & (deny != 0),
            F.round(num * num / den / deny * 1000).cast("long"),
        ).alias("r2_milli"),
    )


def cronbach_alpha(
    df: DataFrame,
    unit_col: str,
    item_col: str,
    score_col,
) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a
    unit × item score matrix (do the items measure one underlying
    trait?), THE gate before averaging per-item signals into a single
    index (e.g. folding per-event-type activity into one engagement
    score, or per-judge ratings into one label):

        α = k/(k−1) · (1 − Σ_i Var_i / Var_total)

    Population variances cross-multiply to the SAME n² denominator,
    which cancels: A = Σ_i (n·Σx_i² − (Σx_i)²), B = n·Σt² − (Σt)²
    with t the per-unit total — absent (unit, item) cells are exact
    zeros by construction, so sparse storage loses nothing.  α is one
    terminal division of int64 sums.  Cost: one (unit, item) cell
    aggregation, then item-level and unit-level sums.

    Output (single row): n_units, k_items, a_sum, b_sum, alpha_milli
    (NULL when k < 2 or B = 0).
    """
    s = score_col if not isinstance(score_col, str) else F.col(score_col)
    cells = (
        df.select(
            F.col(unit_col).alias("_u"),
            F.col(item_col).alias("_i"),
            s.cast("long").alias("_x"),
        )
        .groupBy("_u", "_i")
        .agg(F.sum("_x").cast("long").alias("_x"))
    )
    nu = cells.select("_u").distinct().agg(
        F.count("*").cast("long").alias("_n")
    )
    items = (
        cells.groupBy("_i")
        .agg(
            F.sum("_x").cast("long").alias("_sx"),
            F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        )
        .crossJoin(F.broadcast(nu))
        .select(
            (
                F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
            ).alias("_a")
        )
        .agg(
            F.count("*").cast("long").alias("k_items"),
            F.sum("_a").cast("long").alias("a_sum"),
        )
    )
    units = (
        cells.groupBy("_u")
        .agg(F.sum("_x").cast("long").alias("_t"))
        .agg(
            F.sum("_t").cast("long").alias("_st"),
            F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_stt"),
        )
    )
    out = items.crossJoin(F.broadcast(units)).crossJoin(F.broadcast(nu))
    b = F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")
    return out.select(
        F.col("_n").alias("n_units"),
        "k_items",
        "a_sum",
        b.cast("long").alias("b_sum"),
        F.when(
            (F.col("k_items") >= 2) & (b != 0),
            F.round(
                (F.col("k_items") * (b - F.col("a_sum"))).cast("double")
                * 1000
                / ((F.col("k_items") - 1) * b)
            ).cast("long"),
        ).alias("alpha_milli"),
    )


def kupiec_pof(
    df: DataFrame,
    train_flag,
    value_col: str,
    coverage_bp: int = 9900,
    lnq_micro: int = -4_605_170,
    ln1mq_micro: int = -10_050,
) -> DataFrame:
    """Kupiec proportion-of-failures backtest of an empirical VaR — the
    standard risk-monitoring loop: fit the p-quantile threshold on the
    TRAIN slice, count exceedances on the TEST slice, and test whether
    the exceedance rate matches 1−p with the binomial likelihood
    ratio (Kupiec 1995; LR ~ χ²(1) under correct coverage), plus the
    Basel-style traffic-light zone from the exceedance z-score.

    Exactness: VaR is an exact type-1 train quantile (qc56 rank
    idiom); the LR needs only ln of INTEGERS (q66 discipline —
    ln(x/n) = ln x − ln n, one ln_micro per integer) plus the two
    ln(q)/ln(1−q) constants INJECTED as integer micro literals shared
    with the oracle (the qa89 constant-table rule) — the whole LR is
    an integer DAG until one terminal /1000.  x=0 and x=n limits
    handled by the 0·ln0 = 0 convention.

    Output (single row): n_train, n_test, var_value, x_exceed,
    expected_milli, lr_milli, z_milli, zone.
    """
    t = train_flag if not isinstance(train_flag, str) else F.col(train_flag)
    base = df.select(
        t.cast("boolean").alias("_tr"),
        F.col(value_col).cast("long").alias("_v"),
    )
    train = base.where(F.col("_tr"))
    hist = train.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ntr = hist.agg(F.sum("_c").cast("long").alias("_ntr"))
    var_row = (
        hist.select("_v", F.sum("_c").over(wv).cast("long").alias("_cum"))
        .crossJoin(F.broadcast(ntr))
        .where(
            F.col("_cum")
            >= F.expr(f"({int(coverage_bp)} * _ntr + 9999) div 10000")
        )
        .agg(F.min("_v").cast("long").alias("_var"))
    )
    test = base.where(~F.col("_tr"))
    agg = (
        test.crossJoin(F.broadcast(var_row))
        .agg(
            F.count("*").cast("long").alias("_nte"),
            F.sum(F.when(F.col("_v") > F.col("_var"), 1).otherwise(0))
            .cast("long")
            .alias("_x"),
            F.max("_var").alias("_var2"),
        )
    )
    qbp = 10_000 - int(coverage_bp)
    lnx = _ln_micro(F.col("_x"))
    lnnx = _ln_micro(F.col("_nte") - F.col("_x"))
    lnn = _ln_micro(F.col("_nte"))
    s_obs = F.when(
        F.col("_x") > 0,
        F.col("_x") * (F.lit(int(lnq_micro)) - (lnx - lnn)),
    ).otherwise(F.col("_x") * F.lit(int(lnq_micro))) + F.when(
        F.col("_nte") - F.col("_x") > 0,
        (F.col("_nte") - F.col("_x"))
        * (F.lit(int(ln1mq_micro)) - (lnnx - lnn)),
    ).otherwise(
        (F.col("_nte") - F.col("_x")) * F.lit(int(ln1mq_micro))
    )
    exp_exceed = F.col("_nte").cast("double") * qbp / 10_000
    z = (F.col("_x") - exp_exceed) / F.sqrt(
        exp_exceed * (10_000 - qbp) / 10_000
    )
    return (
        agg.crossJoin(F.broadcast(ntr))
        .select(
            F.col("_ntr").alias("n_train"),
            F.col("_nte").alias("n_test"),
            F.col("_var2").alias("var_value"),
            F.col("_x").alias("x_exceed"),
            F.round(F.col("_nte") * F.lit(qbp) / 10).cast("long").alias(
                "expected_milli"
            ),
            F.round(-2 * s_obs / 1000).cast("long").alias("lr_milli"),
            F.round(z * 1000).cast("long").alias("z_milli"),
            F.when(z < 2.0, F.lit("green"))
            .when(z < 3.0, F.lit("yellow"))
            .otherwise(F.lit("red"))
            .alias("zone"),
        )
    )


def fisher_weights(m: int) -> list[int]:
    """Integer hypergeometric weight table for the per-group median
    test: w[k] = C(m,k)^2, k = 0..m — exact from Python math.comb,
    injected as literals into BOTH the Spark plan and the SQL oracle
    (the qa89 constant-table rule).  With both 2x2 margins pinned to m
    by construction, pmf(k) = w[k] / C(2m, m) and every comparison and
    sum in the two-sided tail is pure int64 (m <= 15 keeps w and the
    micro numerator in range)."""
    import math

    return [math.comb(m, k) ** 2 for k in range(m + 1)]


def fisher_median_test(
    df: DataFrame,
    group_col: str,
    value_col,
    order_cols: list[str],
    m: int = 10,
) -> DataFrame:
    """Per-group Fisher exact median test on a fixed-size audit sample
    — the exact-small-sample drift gate: did the high-value rate shift
    between the first and second half of each group's earliest 2m
    events?  Exact tests are for SMALL tables; the scale-safe shape is
    many bounded samples (first 2m per group by arrival order), never
    the full corpus — so the enumeration is m+1 terms per group, flat
    forever.

    Both margins are pinned to m by construction: exposure = first
    half (arrival rank <= m), outcome = top-m by value with a total-
    order tiebreak — so the null is hypergeometric with pmf(k) =
    C(m,k)^2 / C(2m,m), and the two-sided p (sum of all k whose pmf
    <= pmf(observed), integer weight comparison — no tolerance) is an
    int64 DAG over the injected `fisher_weights` table folded as an
    ARRAY expression (F.filter/F.aggregate in codegen — no join, no
    explode), with ONE terminal division.  Groups with fewer than 2m
    events are excluded (both engines).

    Output per group: group, n_total, n_sample, a_high_first, w_obs,
    p_num, p_micro, significant (p < 0.05).
    """
    import math

    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    weights = fisher_weights(m)
    denom = math.comb(2 * m, m)
    base = df.select(
        F.col(group_col).alias("_g"),
        v.cast("long").alias("_v"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
    )
    okeys = [F.col(f"_o{i}") for i in range(len(order_cols))]
    warr = Window.partitionBy("_g").orderBy(*okeys)
    ranked = base.select(
        "_g", "_v", F.row_number().over(warr).alias("_rn")
    ).where(F.col("_rn") <= 2 * m)
    wval = Window.partitionBy("_g").orderBy(F.col("_v").desc(), F.col("_rn"))
    vr = ranked.select(
        "_g", "_rn", F.row_number().over(wval).alias("_vrank")
    )
    ag = (
        vr.groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("n_sample"),
            F.sum(
                F.when((F.col("_rn") <= m) & (F.col("_vrank") <= m), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("a_high_first"),
        )
        .where(F.col("n_sample") == 2 * m)
    )
    wlit = F.lit(weights)
    obs = ag.select(
        "_g",
        "n_sample",
        "a_high_first",
        F.element_at(wlit, (F.col("a_high_first") + 1).cast("int"))
        .cast("long")
        .alias("w_obs"),
    )
    pn = obs.select(
        "_g",
        "n_sample",
        "a_high_first",
        "w_obs",
        F.aggregate(
            F.filter(wlit, lambda x: x <= F.col("w_obs")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        .cast("long")
        .alias("p_num"),
    )
    totals = base.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_total")
    )
    p_micro = F.round(F.col("p_num") * 1_000_000 / F.lit(denom)).cast("long")
    return (
        pn.join(F.broadcast(totals), "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_total",
            "n_sample",
            "a_high_first",
            "w_obs",
            "p_num",
            p_micro.alias("p_micro"),
            (p_micro < 50_000).alias("significant"),
        )
    )


def woe_iv(df: DataFrame, bin_col: str, flag_col) -> DataFrame:
    """Weight-of-evidence and information value of a binned predictor
    against a binary outcome — the scorecard-building audit (does this
    feature separate the classes, bin by bin, and how much total?):

        WoE_b = ln(good_b/G) - ln(bad_b/B)
        IV    = sum_b (good_b/G - bad_b/B) * WoE_b

    Exactness: WoE is four ln_micro of INTEGERS (counts — q66
    discipline); the rate difference cross-multiplies to an integer
    numerator (gb*B - bb*G) over G*B, micro-rounded with the cast-
    double-first fixed op order (the qb13 past-int64 rule); the IV
    contribution is one more exact integer product micro*micro then a
    single /1000 round into nano units.  Bins missing a class emit
    NULL WoE/IV and are excluded from iv_total_nano (documented —
    standard scorecard practice is to merge such bins upstream).

    One shuffle (the bin groupBy); the 2-cell totals broadcast back.

    Output per bin: bin, n, n_good, n_bad, woe_micro, iv_contrib_nano,
    iv_total_nano (same on every row — broadcast single-row join).
    """
    fl = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    cells = (
        df.select(F.col(bin_col).alias("_b"), fl.cast("int").alias("_y"))
        .groupBy("_b")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_y").cast("long").alias("n_good"),
        )
        .select(
            "_b", "n", "n_good", (F.col("n") - F.col("n_good")).alias("n_bad")
        )
    )
    tot = cells.agg(
        F.sum("n_good").cast("long").alias("_g"),
        F.sum("n_bad").cast("long").alias("_bd"),
    )
    both = F.col("n_good") > 0
    both = both & (F.col("n_bad") > 0)
    woe = F.when(
        both,
        (_ln_micro(F.col("n_good")) - _ln_micro(F.col("_g")))
        - (_ln_micro(F.col("n_bad")) - _ln_micro(F.col("_bd"))),
    )
    scored = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "_b",
            "n",
            "n_good",
            "n_bad",
            woe.alias("woe_micro"),
            F.when(
                both,
                F.round(
                    (
                        F.col("n_good").cast("double") * F.col("_bd")
                        - F.col("n_bad").cast("double") * F.col("_g")
                    )
                    * 1_000_000
                    / (F.col("_g").cast("double") * F.col("_bd"))
                ).cast("long"),
            ).alias("_rd_micro"),
        )
        .select(
            "_b",
            "n",
            "n_good",
            "n_bad",
            "woe_micro",
            F.round(F.col("_rd_micro") * F.col("woe_micro") / 1000)
            .cast("long")
            .alias("iv_contrib_nano"),
        )
    )
    ivt = scored.agg(
        F.sum("iv_contrib_nano").cast("long").alias("iv_total_nano")
    )
    return scored.crossJoin(F.broadcast(ivt)).select(
        F.col("_b").alias(bin_col),
        "n",
        "n_good",
        "n_bad",
        "woe_micro",
        "iv_contrib_nano",
        "iv_total_nano",
    )


def regression_discontinuity(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cutoff_col: str = "_cut",
    bandwidth: int = 10,
) -> DataFrame:
    """Sharp regression-discontinuity estimate: local LINEAR fits on
    each side of an integer cutoff in the running variable, both
    evaluated AT the cutoff; the jump between the two intercepts is
    the causal estimate (Imbens & Lemieux 2008 §4 — local linear, not
    global polynomial, and a fixed bandwidth h so the estimator's
    inputs are reproducible).

    Expects integer x and y plus the cutoff already attached as a
    column (broadcast-joined upstream).  Exactness: with d = x − c bounded by
    |d| <= h, each side's OLS normal equations are five int64 sums
    (n, Σd, Σy, Σdy, Σd²); intercept and slope are single divisions
    of integer cross-products (micro-rounded), NULL when a side has
    fewer than 2 distinct d values (denominator 0).  One shuffle (the
    two-sided conditional agg — a 2-row groupBy).

    Output (single row): cutoff, h, n_left, n_right,
    int_left_micro, int_right_micro, slope_left_micro,
    slope_right_micro, rdd_jump_micro.
    """
    d = F.col("_x") - F.col("_c")
    sides = (
        df.select(
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
            F.col(cutoff_col).cast("long").alias("_c"),
        )
        .where(
            (d >= -F.lit(int(bandwidth))) & (d <= F.lit(int(bandwidth)))
        )
        .select(
            (F.col("_x") >= F.col("_c")).alias("_right"),
            d.alias("_d"),
            "_y",
            "_c",
        )
        .groupBy("_right")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_d").cast("long").alias("_sd"),
            F.sum("_y").cast("long").alias("_sy"),
            F.sum(F.col("_d") * F.col("_y")).cast("long").alias("_sdy"),
            F.sum(F.col("_d") * F.col("_d")).cast("long").alias("_sdd"),
            F.max("_c").alias("_c"),
        )
    )
    den = F.col("_n") * F.col("_sdd") - F.col("_sd") * F.col("_sd")
    intercept = F.when(
        den != 0,
        F.round(
            (
                F.col("_sy").cast("double") * F.col("_sdd")
                - F.col("_sd").cast("double") * F.col("_sdy")
            )
            * 1_000_000
            / den
        ).cast("long"),
    )
    slope = F.when(
        den != 0,
        F.round(
            (
                F.col("_n").cast("double") * F.col("_sdy")
                - F.col("_sd").cast("double") * F.col("_sy")
            )
            * 1_000_000
            / den
        ).cast("long"),
    )
    per = sides.select(
        "_right",
        "_n",
        "_c",
        intercept.alias("_int"),
        slope.alias("_slope"),
    )
    left = per.where(~F.col("_right")).select(
        F.col("_n").alias("n_left"),
        F.col("_int").alias("int_left_micro"),
        F.col("_slope").alias("slope_left_micro"),
        F.col("_c").alias("cutoff"),
    )
    right = per.where(F.col("_right")).select(
        F.col("_n").alias("n_right"),
        F.col("_int").alias("int_right_micro"),
        F.col("_slope").alias("slope_right_micro"),
    )
    return left.crossJoin(F.broadcast(right)).select(
        "cutoff",
        F.lit(int(bandwidth)).cast("long").alias("h"),
        "n_left",
        "n_right",
        "int_left_micro",
        "int_right_micro",
        "slope_left_micro",
        "slope_right_micro",
        (F.col("int_right_micro") - F.col("int_left_micro"))
        .cast("long")
        .alias("rdd_jump_micro"),
    )


def chow_test(
    series: DataFrame,
    t_col: str,
    y_col: str,
    f_crit_milli: int = 3000,
) -> DataFrame:
    """Chow structural-break test at the series midpoint — did the
    linear trend (level/slope) of the daily metric CHANGE between the
    two halves?  F = ((SSRp − SSR1 − SSR2)/k) / ((SSR1+SSR2)/(n−2k)),
    k = 2 (Chow 1960).

    Each side's SSR comes from the centered normal-equation identity
    SSR = (A − B²/C)/n with A = n·Σy²−(Σy)², B = n·Σty−ΣtΣy,
    C = n·Σt²−(Σt)² — A and the y-sums ride in decimal38 (Σy² alone
    can pass int64 at petabyte daily totals, the qc50 rule), B²
    squares in mirrored doubles, ONE rounded division per segment.
    The pooled sums are the exact integer SUM of the two segment
    rows — one aggregation pass total.  The F threshold is an
    injected milli constant (≈ the 5% F(2,∞) point), so the verdict
    is an integer comparison.

    Output (single row): n_days, split_t, n1, n2, ssr_pooled, ssr_1,
    ssr_2, chow_f_milli, break_detected.
    """
    base = series.select(
        F.col(t_col).cast("long").alias("_t"),
        F.col(y_col).cast("long").alias("_y"),
    )
    nt = base.agg(F.count("*").cast("long").alias("_nd"))
    seg = base.crossJoin(F.broadcast(nt)).select(
        F.when(F.col("_t") < F.expr("_nd div 2"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("_seg"),
        "_t",
        "_y",
        F.expr("_nd div 2").alias("_split"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    per = seg.groupBy("_seg").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_t").cast("long").alias("_st"),
        F.sum(dec(F.col("_y"))).alias("_sy"),
        F.sum(dec(F.col("_t")) * dec(F.col("_y"))).alias("_sty"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_stt"),
        F.sum(dec(F.col("_y")) * dec(F.col("_y"))).alias("_syy"),
        F.max("_split").alias("_split"),
    )

    def _ssr(n, st, sy, sty, stt, syy):
        a = dec(n) * syy - sy * sy
        b = dec(n) * sty - dec(st) * sy
        c = n * stt - st * st
        return F.when(
            c != 0,
            F.round(
                (a.cast("double") - b.cast("double") * b.cast("double") / c)
                / n
            ).cast("long"),
        )

    rows = per.select(
        "_seg",
        "_n",
        "_split",
        _ssr(
            F.col("_n"),
            F.col("_st"),
            F.col("_sy"),
            F.col("_sty"),
            F.col("_stt"),
            F.col("_syy"),
        ).alias("_ssr"),
        "_st",
        "_sy",
        "_sty",
        "_stt",
        "_syy",
    )
    pooled = rows.agg(
        F.sum("_n").cast("long").alias("_n"),
        F.sum("_st").cast("long").alias("_st"),
        F.sum("_sy").cast("decimal(38,0)").alias("_sy"),
        F.sum("_sty").cast("decimal(38,0)").alias("_sty"),
        F.sum("_stt").cast("long").alias("_stt"),
        F.sum("_syy").cast("decimal(38,0)").alias("_syy"),
    ).select(
        _ssr(
            F.col("_n"),
            F.col("_st"),
            F.col("_sy"),
            F.col("_sty"),
            F.col("_stt"),
            F.col("_syy"),
        ).alias("ssr_pooled"),
        F.col("_n").alias("n_days"),
    )
    s1 = rows.where(F.col("_seg") == 1).select(
        F.col("_n").alias("n1"),
        F.col("_ssr").alias("ssr_1"),
        F.col("_split").alias("split_t"),
    )
    s2 = rows.where(F.col("_seg") == 2).select(
        F.col("_n").alias("n2"), F.col("_ssr").alias("ssr_2")
    )
    out = pooled.crossJoin(F.broadcast(s1)).crossJoin(F.broadcast(s2))
    fm = F.when(
        (F.col("ssr_1") + F.col("ssr_2") > 0) & (F.col("n_days") > 4),
        F.round(
            (F.col("ssr_pooled") - F.col("ssr_1") - F.col("ssr_2")).cast(
                "double"
            )
            * (F.col("n_days") - 4)
            * 500
            / (F.col("ssr_1") + F.col("ssr_2"))
        ).cast("long"),
    )
    return out.select(
        "n_days",
        "split_t",
        "n1",
        "n2",
        "ssr_pooled",
        "ssr_1",
        "ssr_2",
        fm.alias("chow_f_milli"),
        (fm > F.lit(int(f_crit_milli))).alias("break_detected"),
    )


def cooks_distance_topk(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k most influential points of the simple regression y ~ x by
    Cook's distance — the refit-free influence audit (which users
    would move the fitted trend most if dropped?):

        D_i = e_i² h_i / (p s² (1−h_i)²),  p = 2,
        h_i = 1/n + (x_i − x̄)²/Sxx.

    Slope/intercept are single micro-rounded divisions of integer
    cross-products (qc64 idiom); residuals are milli-integers from
    the micro coefficients; leverage is micro from the exact integer
    (n·x−Σx)² over n·C; SSR uses the centered identity with decimal38
    y-sums (qc68) so s² is one rounded integer.  D assembles in ONE
    mirrored double chain per row (named om = 1−h/1e6 stage pins the
    op order), then TakeOrdered(k) — never a global sort.

    Output (k rows): id, x, y, e_milli, h_micro, d_milli.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    tot = base.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum(dec(F.col("_y"))).alias("_sy"),
        F.sum(dec(F.col("_x")) * dec(F.col("_y"))).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(dec(F.col("_y")) * dec(F.col("_y"))).alias("_syy"),
    )
    cde = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    coef = tot.select(
        "_n",
        "_sx",
        cde.alias("_c"),
        F.when(
            cde != 0,
            F.round(
                (
                    F.col("_sy").cast("double") * F.col("_sxx")
                    - F.col("_sx").cast("double") * F.col("_sxy").cast("double")
                )
                * 1_000_000
                / cde
            ).cast("long"),
        ).alias("_a_micro"),
        F.when(
            cde != 0,
            F.round(
                (
                    F.col("_n").cast("double") * F.col("_sxy").cast("double")
                    - F.col("_sx").cast("double") * F.col("_sy").cast("double")
                )
                * 1_000_000
                / cde
            ).cast("long"),
        ).alias("_b_micro"),
        F.when(
            cde != 0,
            F.round(
                (
                    (dec(F.col("_n")) * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
                        "double"
                    )
                    - (
                        dec(F.col("_n")) * F.col("_sxy")
                        - dec(F.col("_sx")) * F.col("_sy")
                    ).cast("double")
                    * (
                        dec(F.col("_n")) * F.col("_sxy")
                        - dec(F.col("_sx")) * F.col("_sy")
                    ).cast("double")
                    / cde
                )
                / F.col("_n")
            ).cast("long"),
        ).alias("_ssr"),
    )
    j = base.crossJoin(F.broadcast(coef)).where(
        (F.col("_c") != 0) & (F.col("_ssr") > 0) & (F.col("_n") > 2)
    )
    e_milli = (
        F.col("_y") * 1000
        - F.round((F.col("_a_micro") + F.col("_b_micro") * F.col("_x")) / 1000)
        .cast("long")
    )
    q = F.col("_n") * F.col("_x") - F.col("_sx")
    h_micro = F.round(
        F.lit(1_000_000).cast("double") / F.col("_n")
        + (q * q).cast("double")
        * 1_000_000
        / (F.col("_n").cast("double") * F.col("_c"))
    ).cast("long")
    staged = j.select(
        "_id",
        "_x",
        "_y",
        "_n",
        "_ssr",
        e_milli.alias("e_milli"),
        h_micro.alias("h_micro"),
    ).select(
        "_id",
        "_x",
        "_y",
        "_n",
        "_ssr",
        "e_milli",
        "h_micro",
        (F.lit(1.0) - F.col("h_micro").cast("double") / 1_000_000).alias(
            "_om"
        ),
    )
    den = (
        F.col("_ssr").cast("double")
        / (F.col("_n") - 2)
        * 2
        * F.col("_om")
        * F.col("_om")
        * 1_000_000_000_000
    )
    num = (
        F.col("e_milli").cast("double")
        * F.col("e_milli")
        * F.col("h_micro")
        * 1000
    )
    return (
        staged.select(
            F.col("_id").alias(id_col),
            F.col("_x").alias(x_col),
            F.col("_y").alias(y_col),
            "e_milli",
            "h_micro",
            F.round(num / den).cast("long").alias("d_milli"),
        )
        .orderBy(F.col("d_milli").desc(), F.col(id_col))
        .limit(int(k))
    )


def aalen_johansen(
    subj: DataFrame,
    t_col: str,
    cause_col: str,
) -> DataFrame:
    """Aalen–Johansen cumulative incidence functions for TWO competing
    causes — the correct replacement for "1 − KM per cause" (which
    over-counts when causes compete; Putter et al. 2007):

        CIF_k(t) = Σ_{s<=t} S(s−) · d_k(s)/n(s)

    with S the ALL-cause Kaplan–Meier survival.  Input: one row per
    subject, integer duration t and cause ∈ {0 = censored, 1, 2}.

    Exactness follows qa67's KM discipline: the duration histogram is
    the spine (ordered windows over DISTINCT durations only — the
    allowlisted bounded class); S(s−) is the exp of the cumulative
    integer ln_micro sum up to the PREVIOUS step (exclusive window,
    qa67 exp idiom); each CIF increment is one mirrored double chain
    round(S_prev_micro · d_k · 1000 / n) into nano units, then an
    INTEGER cumulative sum.  A step where d = n zeroes S for all
    later steps (dead flag shifted one row).

    Output per event duration (d1+d2 > 0): duration, n_at_risk, d1,
    d2, n_censored_here, s_prev_micro, cif1_nano, cif2_nano.
    """
    base = subj.select(
        F.col(t_col).cast("long").alias("_t"),
        F.col(cause_col).cast("int").alias("_k"),
    )
    per_t = base.groupBy("_t").agg(
        F.count("*").cast("long").alias("_a"),
        F.sum(F.when(F.col("_k") == 1, 1).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("_k") == 2, 1).otherwise(0))
        .cast("long")
        .alias("d2"),
    )
    wcum = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wprev = Window.orderBy("_t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = per_t.agg(F.sum("_a").cast("long").alias("_ntot"))
    lnm = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")
    st = per_t.crossJoin(F.broadcast(tot)).select(
        "_t",
        "_a",
        "d1",
        "d2",
        (
            F.col("_ntot")
            - F.coalesce(F.sum("_a").over(wprev), F.lit(0)).cast("long")
        ).alias("n"),
    )
    d = F.col("d1") + F.col("d2")
    tm = st.select(
        "_t",
        "_a",
        "d1",
        "d2",
        "n",
        F.when((d > 0) & (d < F.col("n")), lnm(F.col("n") - d) - lnm(F.col("n")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_term"),
        (d == F.col("n")).cast("int").alias("_dies"),
    )
    cm = tm.select(
        "_t",
        "_a",
        "d1",
        "d2",
        "n",
        F.coalesce(F.sum("_term").over(wprev), F.lit(0))
        .cast("long")
        .alias("_lns_prev"),
        F.coalesce(F.max("_dies").over(wprev), F.lit(0)).alias("_dead_prev"),
    ).select(
        "_t",
        "_a",
        "d1",
        "d2",
        "n",
        F.when(F.col("_dead_prev") == 1, F.lit(0))
        .otherwise(
            F.round(
                F.exp(F.col("_lns_prev").cast("double") / 1_000_000)
                * 1_000_000
            ).cast("long")
        )
        .alias("s_prev_micro"),
    )
    inc = lambda dk: F.round(
        F.col("s_prev_micro").cast("double") * dk * 1000 / F.col("n")
    ).cast("long")
    stepped = cm.select(
        "_t",
        "_a",
        "d1",
        "d2",
        "n",
        "s_prev_micro",
        inc(F.col("d1")).alias("_i1"),
        inc(F.col("d2")).alias("_i2"),
    )
    return (
        stepped.select(
            "_t",
            "_a",
            "d1",
            "d2",
            "n",
            "s_prev_micro",
            F.sum("_i1").over(wcum).cast("long").alias("cif1_nano"),
            F.sum("_i2").over(wcum).cast("long").alias("cif2_nano"),
        )
        .where(F.col("d1") + F.col("d2") > 0)
        .select(
            F.col("_t").alias("duration"),
            F.col("n").alias("n_at_risk"),
            "d1",
            "d2",
            (F.col("_a") - F.col("d1") - F.col("d2")).alias(
                "n_censored_here"
            ),
            "s_prev_micro",
            "cif1_nano",
            "cif2_nano",
        )
    )


def negbin_fit(df: DataFrame, group_col: str, count_col: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of per-unit counts for
    each group — the overdispersion-aware count model behind rate
    alerting (a Poisson threshold on NB data pages on-call for
    nothing):  with m = S/n and population v = (nQ − S²)/n²,

        r = m²/(v − m) = S² / (nQ − S² − nS),   p = m/v = nS/(nQ − S²)

    — both RATIOS OF INTEGERS (S = Σx, Q = Σx²), milli-rounded with
    one mirrored double division each.  A group with v <= m (no
    overdispersion) reports NULL r/p and overdispersed = false:
    Poisson is adequate there.  One (group, unit) cell count, one
    group-level moment agg.

    Output per group: group, n_units, mean_milli, var_milli,
    overdispersed, r_milli, p_milli.
    """
    per = df.groupBy(group_col).agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.col(count_col).cast("long")).cast("long").alias("_s"),
        F.sum(F.col(count_col).cast("long") * F.col(count_col).cast("long"))
        .cast("long")
        .alias("_q"),
    )
    num_v = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
    den_r = num_v - F.col("_n") * F.col("_s")
    return per.select(
        group_col,
        F.col("_n").alias("n_units"),
        F.round(F.col("_s").cast("double") * 1000 / F.col("_n"))
        .cast("long")
        .alias("mean_milli"),
        F.round(
            num_v.cast("double") * 1000
            / (F.col("_n").cast("double") * F.col("_n"))
        )
        .cast("long")
        .alias("var_milli"),
        (den_r > 0).alias("overdispersed"),
        F.when(
            den_r > 0,
            F.round(
                F.col("_s").cast("double") * F.col("_s") * 1000 / den_r
            ).cast("long"),
        ).alias("r_milli"),
        F.when(
            den_r > 0,
            F.round(
                F.col("_n").cast("double") * F.col("_s") * 1000 / num_v
            ).cast("long"),
        ).alias("p_milli"),
    )


def qq_decile_regression(
    df: DataFrame, flag_col, value_col: str
) -> DataFrame:
    """Quantile-quantile decile regression between two slices of one
    integer metric — the robust distribution-shift summary: regress
    slice-B's nine deciles on slice-A's (type-1 exact ranks from the
    per-slice value histograms, the qc56 idiom); slope ≈ scale ratio,
    intercept ≈ location shift, so (slope=1, intercept=0) means "same
    shape", slope≠1 means the tail stretched, intercept≠0 a uniform
    shift — one number pair where a KS test only says "different".

    The 9-point OLS is pure int64 (Σx, Σy, Σxy, Σx² over nine decile
    pairs), slope/intercept single milli-rounded divisions.  Ordered
    windows run over the two value HISTOGRAMS only (qa22 family).

    Output: 9 decile rows (decile, q_a, q_b) with slope_milli,
    intercept_milli, n_a, n_b repeated (broadcast join).
    """
    fl = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    base = df.select(
        fl.cast("boolean").alias("_b"),
        F.col(value_col).cast("long").alias("_v"),
    )
    hist = base.groupBy("_b", "_v").agg(F.count("*").cast("long").alias("_c"))
    wv = (
        Window.partitionBy("_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "_b", "_v", F.sum("_c").over(wv).alias("_cm")
    )
    tot = hist.groupBy("_b").agg(F.sum("_c").cast("long").alias("_n"))
    dec = df.sparkSession.createDataFrame(
        [(q,) for q in range(1, 10)], ["decile"]
    )
    qs = (
        cum.join(F.broadcast(tot), "_b")
        .join(
            F.broadcast(dec),
            F.col("_cm") >= F.expr("(decile * _n + 9) div 10"),
        )
        .groupBy("_b", "decile")
        .agg(F.min("_v").cast("long").alias("_q"), F.max("_n").alias("_n"))
    )
    pairs = (
        qs.where(~F.col("_b"))
        .select(
            "decile",
            F.col("_q").alias("q_a"),
            F.col("_n").alias("n_a"),
        )
        .join(
            qs.where(F.col("_b")).select(
                "decile",
                F.col("_q").alias("q_b"),
                F.col("_n").alias("n_b"),
            ),
            "decile",
        )
    )
    ols = pairs.agg(
        F.count("*").cast("long").alias("_k"),
        F.sum("q_a").cast("long").alias("_sx"),
        F.sum("q_b").cast("long").alias("_sy"),
        F.sum(F.col("q_a") * F.col("q_b")).cast("long").alias("_sxy"),
        F.sum(F.col("q_a") * F.col("q_a")).cast("long").alias("_sxx"),
    )
    den = F.col("_k") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    coefs = ols.select(
        F.when(
            den != 0,
            F.round(
                (
                    F.col("_k").cast("double") * F.col("_sxy")
                    - F.col("_sx").cast("double") * F.col("_sy")
                )
                * 1000
                / den
            ).cast("long"),
        ).alias("slope_milli"),
        F.when(
            den != 0,
            F.round(
                (
                    F.col("_sy").cast("double") * F.col("_sxx")
                    - F.col("_sx").cast("double") * F.col("_sxy")
                )
                * 1000
                / den
            ).cast("long"),
        ).alias("intercept_milli"),
    )
    return pairs.crossJoin(F.broadcast(coefs)).select(
        F.col("decile").cast("long").alias("decile"),
        "q_a",
        "q_b",
        "n_a",
        "n_b",
        "slope_milli",
        "intercept_milli",
    )


def woolf_homogeneity(
    df: DataFrame,
    stratum_col: str,
    exposed_col,
    outcome_col,
) -> DataFrame:
    """Woolf test of odds-ratio homogeneity across strata — the third
    leg of the stratified-association stool next to Mantel–Haenszel
    pooling (qb90) and the per-stratum Woolf CI (qb99): MH assumes ONE
    common OR; this Q = Σw(lnOR_k)² − (Σw·lnOR_k)²/Σw ~ χ²(K−1) says
    whether that assumption holds before you trust the pooled number.

    Haldane continuity via DOUBLED integers (2c+1, the qb99 idiom)
    keeps every lnOR a difference of ln_micro of INTEGERS; the weight
    1/(1/a+…+1/d) is ONE mirrored double chain micro-rounded per
    STRATUM (qa91 per-cell rule); the per-stratum w·t product runs
    through decimal(38,0) (w ~ min_cell·1e6/8, so million-row strata
    with |lnOR| near 1e6 micro reach ~1e17–1e18 — past comfortable
    int64 headroom) before the cross-stratum sums collapse back to
    int64; the two quotient terms round once each at the end.

    Output (single row): n_strata, lnor_pooled_micro, q_milli, df.
    """
    ex = exposed_col if not isinstance(exposed_col, str) else F.col(exposed_col)
    oc = outcome_col if not isinstance(outcome_col, str) else F.col(outcome_col)
    cells = (
        df.select(
            F.col(stratum_col).alias("_s"),
            ex.cast("boolean").alias("_e"),
            oc.cast("boolean").alias("_y"),
        )
        .groupBy("_s")
        .agg(
            *[
                (
                    2
                    * F.sum(
                        F.when(cond, 1).otherwise(0)
                    ).cast("long")
                    + 1
                ).alias(nm)
                for nm, cond in [
                    ("_a2", F.col("_e") & F.col("_y")),
                    ("_b2", F.col("_e") & ~F.col("_y")),
                    ("_c2", ~F.col("_e") & F.col("_y")),
                    ("_d2", ~F.col("_e") & ~F.col("_y")),
                ]
            ]
        )
    )
    lnm = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")
    t = (
        lnm(F.col("_a2"))
        + lnm(F.col("_d2"))
        - lnm(F.col("_b2"))
        - lnm(F.col("_c2"))
    )
    w = F.round(
        F.lit(1000000.0)
        / (
            F.lit(2.0) / F.col("_a2")
            + F.lit(2.0) / F.col("_b2")
            + F.lit(2.0) / F.col("_c2")
            + F.lit(2.0) / F.col("_d2")
        )
    ).cast("long")
    per = cells.select(
        "_s", t.alias("_t"), w.alias("_w")
    ).select(
        "_s",
        "_t",
        "_w",
        # decimal38 per-element product: w scales with the smallest 2x2
        # cell (~min_cell*1e6/8), so million-row strata with |lnOR| near
        # 1e6 micro push w*t toward 1e17-1e18 — int64 headroom erodes.
        (
            F.col("_w").cast("decimal(38,0)")
            * F.col("_t").cast("decimal(38,0)")
        ).alias("_wt"),
        F.round(
            F.col("_w").cast("double") * F.col("_t") * F.col("_t")
            / 1_000_000_000_000
        )
        .cast("long")
        .alias("_q1"),
    )
    agg = per.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("_w").cast("long").alias("_sw"),
        F.sum("_wt").alias("_swt"),
        F.sum("_q1").cast("long").alias("_sq"),
    )
    q2 = F.round(
        F.col("_swt").cast("double")
        * F.col("_swt")
        / (F.col("_sw").cast("double") * 1_000_000_000_000)
    ).cast("long")
    return agg.select(
        "n_strata",
        F.round(F.col("_swt").cast("double") / F.col("_sw"))
        .cast("long")
        .alias("lnor_pooled_micro"),
        F.round((F.col("_sq") - q2) / 1000).cast("long").alias("q_milli"),
        (F.col("n_strata") - 1).alias("df"),
    )


def gpd_mean_excess(
    df: DataFrame,
    value_col: str,
    pcts: tuple[int, ...] = (50, 60, 70, 80, 90),
) -> DataFrame:
    """Mean-excess curve + generalized-Pareto method-of-moments tail
    fit over a grid of exact percentile thresholds — the
    peaks-over-threshold companion to Hill (qb01) and Gumbel blocks
    (qb26): a roughly LINEAR mean-excess curve with positive slope
    says heavy tail, and (ξ, σ) quantify it:

        ξ = (1 − m²/s²)/2 = (nQ − 2S²)/(2(nQ − S²)),
        σ = m(m²/s² + 1)/2 = S·Q/(2(nQ − S²))

    over the excesses x−u — both RATIOS whose numerators/denominators
    are integer moment sums (S, Q = Σe, Σe²; decimal38 for the nQ/S²
    products, qc50 rule), one mirrored double division each.
    Thresholds are type-1 histogram ranks (qc56 idiom); the per-
    threshold excess pass is a 5-row broadcast join with map-side
    combine.  Variance-zero groups report NULL ξ/σ.

    Output per threshold: pct, u_value, n_exceed, mean_excess_milli,
    xi_milli, sigma_milli.
    """
    base = df.select(F.col(value_col).cast("long").alias("_v"))
    hist = base.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("_v", F.sum("_c").over(wv).alias("_cm"))
    pdf = df.sparkSession.createDataFrame(
        [(int(p),) for p in pcts], ["pct"]
    )
    cuts = (
        cum.crossJoin(F.broadcast(nt))
        .join(
            F.broadcast(pdf),
            F.col("_cm") * 100 >= F.col("pct") * F.col("_n"),
        )
        .groupBy("pct")
        .agg(F.min("_v").cast("long").alias("u"))
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = (
        base.crossJoin(F.broadcast(cuts))
        .where(F.col("_v") > F.col("u"))
        .select("pct", "u", (F.col("_v") - F.col("u")).alias("_e"))
        .groupBy("pct", "u")
        .agg(
            F.count("*").cast("long").alias("n_exceed"),
            F.sum("_e").cast("long").alias("_s"),
            F.sum(dec(F.col("_e")) * dec(F.col("_e"))).alias("_q"),
        )
    )
    nq = dec(F.col("n_exceed")) * F.col("_q")
    s2 = dec(F.col("_s")) * dec(F.col("_s"))
    den = (nq - s2).cast("double")
    return agg.select(
        F.col("pct").cast("long").alias("pct"),
        F.col("u").alias("u_value"),
        "n_exceed",
        F.round(F.col("_s").cast("double") * 1000 / F.col("n_exceed"))
        .cast("long")
        .alias("mean_excess_milli"),
        F.when(
            den > 0,
            F.round((nq - F.lit(2).cast("decimal(38,0)") * s2).cast("double") * 500 / den).cast(
                "long"
            ),
        ).alias("xi_milli"),
        F.when(
            den > 0,
            F.round(
                F.col("_s").cast("double")
                * F.col("_q").cast("double")
                * 500
                / den
            ).cast("long"),
        ).alias("sigma_milli"),
    )


def expected_shortfall(
    df: DataFrame,
    group_col: str,
    value_col: str,
    coverage_bp: int = 9500,
) -> DataFrame:
    """Expected shortfall (CVaR) per group at an exact empirical VaR —
    the tail-severity companion to qc59's Kupiec exceedance-count
    backtest: VaR says how OFTEN you exceed, ES says how BAD the
    exceedances are (the Basel FRTB metric).

    Per group: VaR is the type-1 histogram rank at coverage_bp (qc56
    idiom, PARTITIONED cumulative window — per-group histograms, no
    global sort); ES is the integer tail mean round(S·1000/n_tail)
    over values strictly above VaR, NULL when the tail is empty.

    Output per group: group, n, var_value, n_tail, tail_frac_micro,
    es_milli.
    """
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_v"),
    )
    hist = base.groupBy("_g", "_v").agg(
        F.count("*").cast("long").alias("_c")
    )
    nt = hist.groupBy("_g").agg(F.sum("_c").cast("long").alias("_n"))
    wv = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    var = (
        hist.select("_g", "_v", F.sum("_c").over(wv).alias("_cm"))
        .join(nt, "_g")
        .where(
            F.col("_cm")
            >= F.expr(f"({int(coverage_bp)} * _n + 9999) div 10000")
        )
        .groupBy("_g")
        .agg(F.min("_v").cast("long").alias("var_value"))
    )
    tail = (
        base.join(var, "_g")
        .groupBy("_g")
        .agg(
            F.max("var_value").alias("var_value"),
            F.sum(F.when(F.col("_v") > F.col("var_value"), 1).otherwise(0))
            .cast("long")
            .alias("n_tail"),
            F.sum(
                F.when(F.col("_v") > F.col("var_value"), F.col("_v")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("_ts"),
        )
    )
    return tail.join(nt, "_g").select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n"),
        "var_value",
        "n_tail",
        F.round(F.col("n_tail") * 1_000_000 / F.col("_n"))
        .cast("long")
        .alias("tail_frac_micro"),
        F.when(
            F.col("n_tail") > 0,
            F.round(F.col("_ts").cast("double") * 1000 / F.col("n_tail"))
            .cast("long"),
        ).alias("es_milli"),
    )


def bland_altman(
    df: DataFrame,
    unit_col: str,
    flag_col,
    value_col: str,
) -> DataFrame:
    """Bland–Altman agreement between two paired measurements of the
    same units — the method-comparison standard (Bland & Altman
    1986): mean difference (bias) and 95% limits of agreement
    bias ± 1.96·SD over per-unit slice differences; TOST (qc25) asks
    "are the MEANS equivalent", this asks "do INDIVIDUAL pairs
    agree".

    Per-unit slice means are milli-rounded once per CELL (qa91 rule),
    differences are int64, the SD uses the centered decimal38
    identity (qc68), 1.96 enters as the exact rational 1960/1000, and
    the outside-limits count is an integer comparison.  One shuffle
    to (unit, slice) cells.

    Output (single row): n_pairs, bias_milli, sd_milli, loa_lo_milli,
    loa_hi_milli, n_outside, outside_micro.
    """
    fl = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    cells = (
        df.select(
            F.col(unit_col).alias("_u"),
            fl.cast("boolean").alias("_b"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("_u", "_b")
        .agg(
            F.round(
                F.sum("_v").cast("double") * 1000 / F.count("*")
            )
            .cast("long")
            .alias("_m"),
        )
    )
    pairs = (
        cells.where(~F.col("_b"))
        .select("_u", F.col("_m").alias("_ma"))
        .join(
            cells.where(F.col("_b")).select("_u", F.col("_m").alias("_mb")),
            "_u",
        )
        .select((F.col("_mb") - F.col("_ma")).alias("_d"))
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = pairs.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_d").cast("long").alias("_sd"),
        F.sum(dec(F.col("_d")) * dec(F.col("_d"))).alias("_sdd"),
    )
    var_num = (dec(F.col("_n")) * F.col("_sdd") - dec(F.col("_sd")) * dec(F.col("_sd")))
    stats = agg.select(
        "_n",
        F.round(F.col("_sd").cast("double") / F.col("_n"))
        .cast("long")
        .alias("bias_milli"),
        F.round(
            F.sqrt(var_num.cast("double")) / F.col("_n")
        )
        .cast("long")
        .alias("sd_milli"),
    ).select(
        "_n",
        "bias_milli",
        "sd_milli",
        (
            F.col("bias_milli")
            - F.round(F.col("sd_milli") * 1960 / 1000).cast("long")
        ).alias("loa_lo_milli"),
        (
            F.col("bias_milli")
            + F.round(F.col("sd_milli") * 1960 / 1000).cast("long")
        ).alias("loa_hi_milli"),
    )
    outside = (
        pairs.crossJoin(F.broadcast(stats))
        .agg(
            F.sum(
                F.when(
                    (F.col("_d") < F.col("loa_lo_milli"))
                    | (F.col("_d") > F.col("loa_hi_milli")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outside")
        )
    )
    return stats.crossJoin(F.broadcast(outside)).select(
        F.col("_n").alias("n_pairs"),
        "bias_milli",
        "sd_milli",
        "loa_lo_milli",
        "loa_hi_milli",
        "n_outside",
        F.round(F.col("n_outside") * 1_000_000 / F.col("_n"))
        .cast("long")
        .alias("outside_micro"),
    )


def delta_method_ratio_ci(
    df: DataFrame,
    cluster_col: str,
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Delta-method (linearization) CI for a RATIO metric with
    clustered units — the industry-standard A/B analysis shape
    (Deng et al. 2017): the metric is Σx/Σy but users, not rows, are
    the independent units, so the naive row-level variance is wrong;
    the cluster-residual form fixes it:

        Var(r̂) = n/(n−1) · Σ_u e_u² / (Σy)²,
        e_u = x_u − r·y_u  ⇒  e_u·Σy = x_u·Σy − Σx·y_u  (INTEGER)

    so Σe²·(Σy)² is an exact decimal38 sum of squared int64 terms;
    the SE is one mirrored sqrt/division chain, the CI uses 1.96 as
    the exact rational 1960/1000.  One shuffle (cluster rollup).

    Output (single row): n_clusters, sum_x, sum_y, ratio_micro,
    se_micro, ci_lo_micro, ci_hi_micro.
    """
    per = (
        df.select(
            F.col(cluster_col).alias("_u"),
            F.col(num_col).cast("long").alias("_x"),
            F.col(den_col).cast("long").alias("_y"),
        )
        .groupBy("_u")
        .agg(
            F.sum("_x").cast("long").alias("_xu"),
            F.sum("_y").cast("long").alias("_yu"),
        )
    )
    tot = per.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_xu").cast("long").alias("_sx"),
        F.sum("_yu").cast("long").alias("_sy"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    res = (
        per.crossJoin(F.broadcast(tot))
        .select(
            (
                dec(F.col("_xu")) * dec(F.col("_sy"))
                - dec(F.col("_sx")) * dec(F.col("_yu"))
            ).alias("_e")
        )
        .agg(F.sum(F.col("_e") * F.col("_e")).alias("_s2"))
    )
    out = tot.crossJoin(F.broadcast(res))
    se = F.round(
        F.sqrt(
            F.col("_s2").cast("double") * F.col("_n") / (F.col("_n") - 1)
        )
        * 1_000_000
        / (F.col("_sy").cast("double") * F.col("_sy"))
    ).cast("long")
    ratio = F.round(F.col("_sx") * 1_000_000 / F.col("_sy")).cast("long")
    return out.select(
        F.col("_n").alias("n_clusters"),
        F.col("_sx").alias("sum_x"),
        F.col("_sy").alias("sum_y"),
        ratio.alias("ratio_micro"),
        se.alias("se_micro"),
        (ratio - F.round(se * 1960 / 1000).cast("long")).alias(
            "ci_lo_micro"
        ),
        (ratio + F.round(se * 1960 / 1000).cast("long")).alias(
            "ci_hi_micro"
        ),
    )


def positivity_overlap(
    df: DataFrame,
    unit_col: str,
    arm_col,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Positivity / common-support audit for a two-arm comparison —
    the precondition every causal estimator in the repo (qb31 ATE,
    qb10 DiD, qc64 RDD, qb88 E-value) silently assumes: do both arms
    actually cover the same score range?  Reports the histogram
    OVERLAP COEFFICIENT Σ_b min(p_Ab, p_Bb) and the count of bins
    with support in only one arm.

    The min of two fractions with different denominators picks by the
    exact cross-multiplication c_A·N_B ≤ c_B·N_A (pure int64), so the
    overlap numerators P (over N_A) and Q (over N_B) are integer
    sums; the coefficient is ONE mirrored two-term double chain.
    Equal-width bins over the unit-level score (qc43 binning).

    Output (single row): n_bins_occupied, n_a, n_b, p_num, q_num,
    overlap_micro, n_violation_bins.
    """
    ar = arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    units = df.select(
        F.col(unit_col).alias("_u"),
        ar.cast("boolean").alias("_arm"),
        F.col(score_col).cast("long").alias("_s"),
    )
    ext = units.agg(F.min("_s").alias("_mn"), F.max("_s").alias("_mx"))
    nb = int(n_bins)
    binned = units.crossJoin(F.broadcast(ext)).select(
        "_arm",
        F.floor(
            (F.col("_s") - F.col("_mn"))
            * nb
            / (F.col("_mx") - F.col("_mn") + 1)
        )
        .cast("long")
        .alias("_b"),
    )
    cells = binned.groupBy("_b").agg(
        F.sum(F.when(F.col("_arm"), 1).otherwise(0))
        .cast("long")
        .alias("_ca"),
        F.sum(F.when(~F.col("_arm"), 1).otherwise(0))
        .cast("long")
        .alias("_cb"),
    )
    tot = cells.agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
    )
    agg = (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("long").alias("n_bins_occupied"),
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
            F.sum(
                F.when(
                    F.col("_ca") * F.col("_nb")
                    <= F.col("_cb") * F.col("_na"),
                    F.col("_ca"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("p_num"),
            F.sum(
                F.when(
                    F.col("_ca") * F.col("_nb")
                    > F.col("_cb") * F.col("_na"),
                    F.col("_cb"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("q_num"),
            F.sum(
                F.when(
                    (F.col("_ca") == 0) | (F.col("_cb") == 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_violation_bins"),
        )
    )
    return agg.select(
        "n_bins_occupied",
        "n_a",
        "n_b",
        "p_num",
        "q_num",
        F.round(
            F.col("p_num").cast("double") * 1_000_000 / F.col("n_a")
            + F.col("q_num").cast("double") * 1_000_000 / F.col("n_b")
        )
        .cast("long")
        .alias("overlap_micro"),
        "n_violation_bins",
    )


def mmd_quadratic(
    df: DataFrame,
    flag_col,
    value_col: str,
    scale: int = 100_000_000,
) -> DataFrame:
    """Two-sample MMD² with the QUADRATIC kernel k(x,y) = (xy/s + 1)²
    — the kernel-method two-sample test in exactly-computable form:
    the polynomial kernel's V-statistic means expand into pure moment
    products, so no pairwise pass exists at all:

        mean_XY k = (Σx²·Σy²/s² + 2·Σx·Σy/s + n_x·n_y) / (n_x·n_y)

    (diagonal included — biased V-statistic, standard for MMD²_b).
    Integer discipline: Σx, Σx² are int64/decimal38; (Σx²)² products
    ride in doubles AFTER the decimal exact sums (mirrored order);
    each of the three kernel means micro-rounds ONCE, then
    MMD² = k_AA + k_BB − 2k_AB is integer micro arithmetic.
    Detects variance/shape differences a mean test misses, at one
    aggregation's cost.

    Output (single row): n_a, n_b, kaa_micro, kbb_micro, kab_micro,
    mmd2_micro.
    """
    fl = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    dec = lambda c: c.cast("decimal(38,0)")
    per = (
        df.select(
            fl.cast("boolean").alias("_b"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("_b")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_v").cast("long").alias("_s"),
            F.sum(dec(F.col("_v")) * dec(F.col("_v")))
            .cast("decimal(38,0)")
            .alias("_q"),
        )
    )
    a = per.where(~F.col("_b")).select(
        F.col("_n").alias("n_a"), F.col("_s").alias("_sa"), F.col("_q").alias("_qa")
    )
    b = per.where(F.col("_b")).select(
        F.col("_n").alias("n_b"), F.col("_s").alias("_sb"), F.col("_q").alias("_qb")
    )
    j = a.crossJoin(F.broadcast(b))
    s_d = float(int(scale))

    def kmean(qx, qy, sx, sy, nx, ny):
        return F.round(
            (
                qx.cast("double") * qy.cast("double") / (s_d * s_d)
                + sx.cast("double") * sy.cast("double") * 2 / s_d
                + nx.cast("double") * ny
            )
            * 1_000_000
            / (nx.cast("double") * ny)
        ).cast("long")

    out = j.select(
        "n_a",
        "n_b",
        kmean(
            F.col("_qa"), F.col("_qa"), F.col("_sa"), F.col("_sa"),
            F.col("n_a"), F.col("n_a"),
        ).alias("kaa_micro"),
        kmean(
            F.col("_qb"), F.col("_qb"), F.col("_sb"), F.col("_sb"),
            F.col("n_b"), F.col("n_b"),
        ).alias("kbb_micro"),
        kmean(
            F.col("_qa"), F.col("_qb"), F.col("_sa"), F.col("_sb"),
            F.col("n_a"), F.col("n_b"),
        ).alias("kab_micro"),
    )
    return out.select(
        "n_a",
        "n_b",
        "kaa_micro",
        "kbb_micro",
        "kab_micro",
        (
            F.col("kaa_micro") + F.col("kbb_micro") - 2 * F.col("kab_micro")
        ).alias("mmd2_micro"),
    )


def obrien_fleming_looks(
    df: DataFrame,
    arm_col,
    t_col: str,
    value_col: str,
    k_looks: int = 5,
    bounds_milli: tuple[int, ...] = (4877, 3357, 2680, 2290, 2031),
) -> DataFrame:
    """O'Brien–Fleming group-sequential monitoring table — K interim
    looks at an A/B metric with the classic spend-almost-nothing-
    early boundaries, so peeking is SAFE by design (the qa95 SPRT's
    frequentist sibling; boundary constants are the published OBF
    z-values for K=5, α=0.05 two-sided, INJECTED as milli literals —
    qa89 rule).

    Looks are equal fifths of the observation window; per (arm, look)
    integer moments accumulate through each look via a tiny look ≤ k
    dimension join (K² rows, no window).  Each look's two-sample z
    uses pooled cumulative moments: one mirrored double chain per
    look.  `crossed` marks |z| over the boundary.

    Output per look: look, n_a, n_b, z_milli, bound_milli, crossed.
    """
    ar = arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    base = df.select(
        ar.cast("boolean").alias("_arm"),
        F.col(t_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_v"),
    )
    ext = base.agg(F.min("_t").alias("_lo"), F.max("_t").alias("_hi"))
    kk = int(k_looks)
    looks = base.crossJoin(F.broadcast(ext)).select(
        "_arm",
        "_v",
        F.least(
            F.lit(kk),
            (
                F.floor(
                    (F.col("_t") - F.col("_lo"))
                    * kk
                    / (F.col("_hi") - F.col("_lo") + 1)
                )
                + 1
            ).cast("int"),
        ).alias("_lk"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    cells = looks.groupBy("_arm", "_lk").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_v").cast("long").alias("_s"),
        F.sum(dec(F.col("_v")) * dec(F.col("_v")))
        .cast("decimal(38,0)")
        .alias("_q"),
    )
    kdf = df.sparkSession.createDataFrame(
        [(k, int(bounds_milli[k - 1])) for k in range(1, kk + 1)],
        ["look", "bound_milli"],
    )
    cum = (
        cells.join(F.broadcast(kdf), cells["_lk"] <= kdf["look"])
        .groupBy("look", "bound_milli", "_arm")
        .agg(
            F.sum("_n").cast("long").alias("_n"),
            F.sum("_s").cast("long").alias("_s"),
            F.sum("_q").cast("decimal(38,0)").alias("_q"),
        )
    )
    a = cum.where(~F.col("_arm")).select(
        "look",
        "bound_milli",
        F.col("_n").alias("n_a"),
        F.col("_s").alias("_sa"),
        F.col("_q").alias("_qa"),
    )
    b = cum.where(F.col("_arm")).select(
        F.col("look").alias("_lk2"),
        F.col("_n").alias("n_b"),
        F.col("_s").alias("_sb"),
        F.col("_q").alias("_qb"),
    )
    j = a.join(b, a["look"] == b["_lk2"])
    n = F.col("n_a") + F.col("n_b")
    st = (F.col("_sa") + F.col("_sb")).cast("decimal(38,0)")
    qt = F.col("_qa") + F.col("_qb")
    var_num = (dec(n) * qt - st * st).cast("double")
    z = (
        (
            F.col("_sa").cast("double") / F.col("n_a")
            - F.col("_sb").cast("double") / F.col("n_b")
        )
        / F.sqrt(
            var_num
            / (n.cast("double") * n)
            * (
                F.lit(1.0) / F.col("n_a")
                + F.lit(1.0) / F.col("n_b")
            )
        )
    )
    zm = F.round(z * 1000).cast("long")
    return j.select(
        F.col("look").cast("long").alias("look"),
        "n_a",
        "n_b",
        zm.alias("z_milli"),
        F.col("bound_milli").cast("long").alias("bound_milli"),
        (F.abs(zm) > F.col("bound_milli")).alias("crossed"),
    )


def energy_distance(
    df: DataFrame,
    flag_col,
    value_col: str,
) -> DataFrame:
    """Székely energy distance between two slices of an integer
    metric — the final member of the repo's two-sample family (KS
    max-gap qa08, Wasserstein |gap| qb96, CvM squared-gap qc37, AD
    tail-weighted qc46, MMD kernel qc98): D = 2E|X−Y| − E|X−X'| −
    E|Y−Y'|, zero iff the distributions coincide, sensitive to ALL
    moments.

    No pairwise pass: every absolute-difference sum collapses onto
    the combined distinct-value spine via the gap identity
    Σ|xi−yj| = Σ_v gap_v·[cumX·(nY−cumY) + cumY·(nX−cumX)] — integer
    gap times int64 rank products, accumulated in decimal38; the
    three E terms milli-round once each, the combination and the
    n-scaled test statistic are integer/one-division.

    Output (single row): n_a, n_b, exy_milli, exx_milli, eyy_milli,
    energy_milli, t_stat_milli = n_a·n_b/(n_a+n_b) · D.
    """
    fl = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    hist = (
        df.select(
            fl.cast("boolean").alias("_b"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("_v")
        .agg(
            F.sum(F.when(~F.col("_b"), 1).otherwise(0))
            .cast("long")
            .alias("_ca"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0))
            .cast("long")
            .alias("_cb"),
        )
    )
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy("_v")
    tot = hist.agg(
        F.sum("_ca").cast("long").alias("_na"),
        F.sum("_cb").cast("long").alias("_nb"),
    )
    cum = hist.select(
        "_v",
        F.sum("_ca").over(wv).cast("long").alias("_cma"),
        F.sum("_cb").over(wv).cast("long").alias("_cmb"),
        (F.lead("_v", 1).over(wl) - F.col("_v")).alias("_gap"),
    ).where(F.col("_gap").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")
    sums = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            dec(F.col("_gap"))
            * (
                dec(F.col("_cma")) * dec(F.col("_nb") - F.col("_cmb"))
                + dec(F.col("_cmb")) * dec(F.col("_na") - F.col("_cma"))
            )
        ).alias("_sxy"),
        F.sum(
            dec(F.col("_gap"))
            * dec(F.col("_cma"))
            * dec(F.col("_na") - F.col("_cma"))
        ).alias("_sxx"),
        F.sum(
            dec(F.col("_gap"))
            * dec(F.col("_cmb"))
            * dec(F.col("_nb") - F.col("_cmb"))
        ).alias("_syy"),
    )
    out = tot.crossJoin(F.broadcast(sums))
    exy = F.round(
        F.col("_sxy").cast("double")
        * 1000
        / (F.col("_na").cast("double") * F.col("_nb"))
    ).cast("long")
    exx = F.round(
        F.col("_sxx").cast("double")
        * 2000
        / (F.col("_na").cast("double") * F.col("_na"))
    ).cast("long")
    eyy = F.round(
        F.col("_syy").cast("double")
        * 2000
        / (F.col("_nb").cast("double") * F.col("_nb"))
    ).cast("long")
    energy = (2 * exy - exx - eyy).cast("long")
    return out.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        exy.alias("exy_milli"),
        exx.alias("exx_milli"),
        eyy.alias("eyy_milli"),
        energy.alias("energy_milli"),
        F.round(
            energy
            * (F.col("_na").cast("double") * F.col("_nb"))
            / (F.col("_na") + F.col("_nb"))
        )
        .cast("long")
        .alias("t_stat_milli"),
    )


def user_slope_distribution(
    df: DataFrame,
    unit_col: str,
    t_col: str,
    y_col: str,
    min_points: int = 5,
) -> DataFrame:
    """Distribution of per-unit trend slopes — the random-slopes
    descriptive behind cohort health ("are most users trending up,
    or does a hot few mask decay?"): a per-unit OLS slope from
    integer moments (PARTITIONED — bounded per unit), milli-rounded
    once per unit (per-cell rule), then exact type-1 quartiles over
    the slope HISTOGRAM plus the positive fraction.

    Units need >= min_points observations and a nonzero time spread;
    everything after the per-unit rollup runs on the distinct-slope
    histogram (qa22 family).

    Output (single row): n_units_fit, mean_slope_milli,
    p25_milli, p50_milli, p75_milli, frac_positive_micro.
    """
    per = (
        df.select(
            F.col(unit_col).alias("_u"),
            F.col(t_col).cast("long").alias("_t"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .groupBy("_u")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_t").cast("long").alias("_st"),
            F.sum("_y").cast("long").alias("_sy"),
            F.sum(F.col("_t") * F.col("_y")).cast("long").alias("_sty"),
            F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_stt"),
        )
    )
    c = F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")
    slopes = per.where(
        (F.col("_n") >= int(min_points)) & (c != 0)
    ).select(
        F.round(
            (
                F.col("_n").cast("double") * F.col("_sty")
                - F.col("_st").cast("double") * F.col("_sy")
            )
            * 1000
            / c
        )
        .cast("long")
        .alias("_s")
    )
    hist = slopes.groupBy("_s").agg(F.count("*").cast("long").alias("_c"))
    tot = hist.agg(
        F.sum("_c").cast("long").alias("_nt"),
        F.sum(F.col("_s") * F.col("_c")).cast("long").alias("_ssum"),
        F.sum(F.when(F.col("_s") > 0, F.col("_c")).otherwise(0))
        .cast("long")
        .alias("_npos"),
    )
    wv = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("_s", F.sum("_c").over(wv).alias("_cm")).crossJoin(
        F.broadcast(tot)
    )
    q = lambda bp: cum.where(
        F.col("_cm") >= F.expr(f"({bp} * _nt + 9999) div 10000")
    ).agg(F.min("_s").cast("long").alias(f"p{bp // 100}_milli"))
    out = (
        tot.crossJoin(F.broadcast(q(2500)))
        .crossJoin(F.broadcast(q(5000)))
        .crossJoin(F.broadcast(q(7500)))
    )
    return out.select(
        F.col("_nt").alias("n_units_fit"),
        F.round(F.col("_ssum").cast("double") / F.col("_nt"))
        .cast("long")
        .alias("mean_slope_milli"),
        "p25_milli",
        "p50_milli",
        "p75_milli",
        F.round(F.col("_npos") * 1_000_000 / F.col("_nt"))
        .cast("long")
        .alias("frac_positive_micro"),
    )


def atkinson_index(
    df: DataFrame, unit_col: str, value_col: str
) -> DataFrame:
    """Atkinson inequality index at ε = 1 over per-unit totals —
    A = 1 − geomean/mean, the welfare-grounded member of the
    inequality family (Gini qa09, Theil qc39, Lorenz qb32): ε = 1
    weighs transfers at the bottom of the distribution, so it moves
    when the long tail of tiny accounts changes and Gini barely does.

    The geometric mean rides the q66/qa67 idiom: ln_micro ONCE per
    distinct per-unit total (histogram-weighted integer sum), one
    exp at the end (qa67 exp idiom); the arithmetic mean is one
    rounded division; units with a zero/negative total are excluded
    and counted (geomean undefined there — reported honestly).

    Output (single row): n_units, n_excluded, mean_milli,
    geomean_milli, atkinson_micro.
    """
    per = (
        df.select(
            F.col(unit_col).alias("_u"),
            F.col(value_col).cast("long").alias("_v"),
        )
        .groupBy("_u")
        .agg(F.sum("_v").cast("long").alias("_t"))
    )
    pos = per.where(F.col("_t") > 0)
    excl = per.where(F.col("_t") <= 0).agg(
        F.count("*").cast("long").alias("n_excluded")
    )
    lnm = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")
    hist = pos.groupBy("_t").agg(F.count("*").cast("long").alias("_c"))
    agg = hist.agg(
        F.sum("_c").cast("long").alias("_n"),
        F.sum(F.col("_t") * F.col("_c")).cast("long").alias("_s"),
        F.sum(F.col("_c") * lnm(F.col("_t"))).cast("long").alias("_sl"),
    )
    out = agg.crossJoin(F.broadcast(excl))
    mean_milli = F.round(
        F.col("_s").cast("double") * 1000 / F.col("_n")
    ).cast("long")
    geo_milli = F.round(
        F.exp(
            F.col("_sl").cast("double") / (F.col("_n") * 1_000_000.0)
        )
        * 1000
    ).cast("long")
    return out.select(
        F.col("_n").alias("n_units"),
        "n_excluded",
        mean_milli.alias("mean_milli"),
        geo_milli.alias("geomean_milli"),
        F.round(
            (F.lit(1.0) - geo_milli.cast("double") / mean_milli)
            * 1_000_000
        )
        .cast("long")
        .alias("atkinson_micro"),
    )


def g_test_binned(
    df: DataFrame,
    flag_col,
    value_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Two-slice binned G-test (likelihood-ratio chi-square) — the
    log-likelihood sibling of the Pearson machinery (qc36 residuals,
    qb92 Cramér's V): G² = 2·Σ o·ln(o/e) over the 2×B table of
    equal-width value bins, asymptotically χ²(B−1) under
    homogeneity; G² adds across partitions where Pearson's X² does
    not, which is why corpus pipelines prefer it (Dunning 1993).

    Each cell term is o·[ln_micro(o·N) − ln_micro(r·c)] — ln of
    INTEGER products only (o·N ≤ 1e17 int64 at test scale; at
    petabyte counts the same identity rides decimal38), zero cells
    contribute exactly 0 (the o·ln o convention).  One binning pass,
    one cell aggregation, integer sums, one /1000 round.

    Output (single row): n_a, n_b, n_bins_occupied, df, g2_milli.
    """
    fl = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    base = df.select(
        fl.cast("boolean").alias("_f"),
        F.col(value_col).cast("long").alias("_v"),
    )
    ext = base.agg(F.min("_v").alias("_mn"), F.max("_v").alias("_mx"))
    nb = int(n_bins)
    cells = (
        base.crossJoin(F.broadcast(ext))
        .select(
            "_f",
            F.floor(
                (F.col("_v") - F.col("_mn"))
                * nb
                / (F.col("_mx") - F.col("_mn") + 1)
            )
            .cast("long")
            .alias("_b"),
        )
        .groupBy("_b")
        .agg(
            F.sum(F.when(F.col("_f"), 1).otherwise(0))
            .cast("long")
            .alias("_oa"),
            F.sum(F.when(~F.col("_f"), 1).otherwise(0))
            .cast("long")
            .alias("_ob"),
        )
    )
    tot = cells.agg(
        F.sum("_oa").cast("long").alias("_na"),
        F.sum("_ob").cast("long").alias("_nb"),
        F.count("*").cast("long").alias("_k"),
    )
    lnm = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")
    j = cells.crossJoin(F.broadcast(tot))
    n = F.col("_na") + F.col("_nb")
    r = F.col("_oa") + F.col("_ob")
    term = lambda o, cmarg: F.when(
        o > 0, o * (lnm(o * n) - lnm(r * cmarg))
    ).otherwise(F.lit(0))
    agg = j.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.max("_k").alias("_k"),
        F.sum(
            term(F.col("_oa"), F.col("_na"))
            + term(F.col("_ob"), F.col("_nb"))
        )
        .cast("long")
        .alias("_s"),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.col("_k").alias("n_bins_occupied"),
        (F.col("_k") - 1).cast("long").alias("df"),
        F.round(2 * F.col("_s") / 1000).cast("long").alias("g2_milli"),
    )


def icc_agreement(
    df: DataFrame,
    subject_col: str,
    rater_col: str,
    score_col: str,
) -> DataFrame:
    """Intraclass correlation of a complete subjects × raters panel of
    NUMERIC scores — the continuous-score counterpart of the kappa
    family (Cohen qa12, Fleiss qa61, Krippendorff qa93, AC1 qc14):
    ICC(1,1) one-way random and ICC(2,1) two-way random single-rater
    absolute agreement (Shrout & Fleiss 1979).

    Exactness: scores enter as int64; the three scaled sums of squares
    are exact integer identities over decimal(38,0) power sums
    (T·SS_total = T·Σx² − S², T·SS_subj = n_subj·Σ_i S_i² − S²,
    T·SS_rater = k·Σ_j S_j² − S², T = n·k), so nothing float happens
    until the four mean squares — which are each ONE decimal→double
    cast + one division, assembled into the two ICCs in a fixed
    mirrored op order and milli-rounded once.  Plan: one per-subject
    agg (n rows), one per-rater agg (k rows), one scalar agg — no
    windows at all.

    Output (single row): n_subjects, k_raters, icc1_milli, icc21_milli,
    msr_milli, msc_milli, mse_milli.
    """
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(subject_col).alias("_i"),
        F.col(rater_col).alias("_j"),
        F.col(score_col).cast("long").alias("_x"),
    )
    per_i = base.groupBy("_i").agg(F.sum("_x").cast("long").alias("_si"))
    per_j = base.groupBy("_j").agg(F.sum("_x").cast("long").alias("_sj"))
    tot = base.agg(
        F.count("*").cast("long").alias("_t"),
        F.sum(dec(F.col("_x"))).alias("_s"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x"))).alias("_ss"),
    )
    si2 = per_i.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(dec(F.col("_si")) * dec(F.col("_si"))).alias("_ssi"),
    )
    sj2 = per_j.agg(
        F.count("*").cast("long").alias("_k"),
        F.sum(dec(F.col("_sj")) * dec(F.col("_sj"))).alias("_ssj"),
    )
    j = tot.crossJoin(F.broadcast(si2)).crossJoin(F.broadcast(sj2))
    s2 = F.col("_s") * F.col("_s")
    sst_t = (dec(F.col("_t")) * F.col("_ss") - s2).cast("double")
    ssr_t = (dec(F.col("_n")) * F.col("_ssi") - s2).cast("double")
    ssc_t = (dec(F.col("_k")) * F.col("_ssj") - s2).cast("double")
    t_d = F.col("_t").cast("double")
    n_d = F.col("_n").cast("double")
    k_d = F.col("_k").cast("double")
    msr = ssr_t / (t_d * (n_d - 1))
    msc = ssc_t / (t_d * (k_d - 1))
    mse = (sst_t - ssr_t - ssc_t) / (t_d * (n_d - 1) * (k_d - 1))
    msw = (sst_t - ssr_t) / (t_d * n_d * (k_d - 1))
    icc1 = (msr - msw) / (msr + (k_d - 1) * msw)
    icc21 = (msr - mse) / (
        msr + (k_d - 1) * mse + k_d * (msc - mse) / n_d
    )
    ok = (F.col("_n") > 1) & (F.col("_k") > 1)
    mil = lambda c: F.round(c * 1000).cast("long")
    return j.select(
        F.col("_n").alias("n_subjects"),
        F.col("_k").alias("k_raters"),
        F.when(ok, mil(icc1)).alias("icc1_milli"),
        F.when(ok, mil(icc21)).alias("icc21_milli"),
        F.when(ok, mil(msr)).alias("msr_milli"),
        F.when(ok, mil(msc)).alias("msc_milli"),
        F.when(ok, mil(mse)).alias("mse_milli"),
    )


def aa_uniformity_check(
    df: DataFrame,
    unit_col: str,
    success_col,
    n_buckets: int = 16,
    salt: str = "aa",
    chi2_crit_milli: int = 24_996,
) -> DataFrame:
    """A/A calibration check of the experimentation stack: split units
    into ``n_buckets`` md5 buckets (the same deterministic hash an
    assignment service uses) and test the success rate for homogeneity
    — a significant chi² on an A/A split means the BUCKETING or the
    logging is broken before any real experiment can be trusted.
    Completes qb54's 2-arm SRM check with a k-arm rate uniformity test.

    Input contract: ONE ROW PER UNIT (``unit_col`` unique, e.g. qd38's
    per-user frame). The operator hashes and counts input rows as they
    come; raw event rows would weight each bucket by event volume, not
    by units. Aggregate to one row per unit first.

    Exactness: per-cell deviation d_i = x_i·N − n_i·X is exact int64;
    the cell contribution d²/(n_i·X·(N−X)) is ONE mirrored double
    chain micro-rounded per cell (qc04 discipline), then integer-
    summed; the critical value (df = k−1 at α=.05) is Python-injected
    — no engine chi² quantile.

    Output (single row): n_buckets, n_units, n_success, chi2_milli,
    df, uniform_ok.
    """
    s = (
        success_col if not isinstance(success_col, str) else F.col(success_col)
    ).cast("long")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit(salt), F.col(unit_col).cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    per_b = (
        df.select(F.pmod(h, F.lit(int(n_buckets))).alias("_b"), s.alias("_x"))
        .groupBy("_b")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_x").cast("long").alias("_xs"),
        )
    )
    tot = per_b.agg(
        F.sum("_n").cast("long").alias("_nt"),
        F.sum("_xs").cast("long").alias("_xt"),
        F.count("*").cast("long").alias("_k"),
    )
    cell = per_b.crossJoin(F.broadcast(tot)).select(
        "_k",
        "_nt",
        "_xt",
        (F.col("_xs") * F.col("_nt") - F.col("_n") * F.col("_xt")).alias(
            "_d"
        ),
        "_n",
    )
    ok = (F.col("_xt") > 0) & (F.col("_xt") < F.col("_nt"))
    contrib = F.when(
        ok,
        F.round(
            F.col("_d").cast("double")
            * F.col("_d")
            / (
                F.col("_n").cast("double")
                * F.col("_xt")
                * (F.col("_nt") - F.col("_xt"))
            )
            * 1_000_000
        ).cast("long"),
    )
    agg = cell.groupBy("_k", "_nt", "_xt").agg(
        F.sum(contrib).alias("_chi2_micro")
    )
    return agg.select(
        F.col("_k").alias("n_buckets"),
        F.col("_nt").alias("n_units"),
        F.col("_xt").alias("n_success"),
        F.round(F.col("_chi2_micro") / 1000).cast("long").alias("chi2_milli"),
        (F.col("_k") - 1).cast("long").alias("df"),
        (
            F.round(F.col("_chi2_micro") / 1000)
            <= F.lit(int(chi2_crit_milli))
        ).alias("uniform_ok"),
    )


def mde_sample_size_curve(
    df: DataFrame,
    unit_col: str,
    success_col,
    rel_effects_micro: tuple[int, ...] = (50_000, 100_000, 200_000, 500_000),
    z2_const: float = (1.959964 + 0.841621) ** 2,
) -> DataFrame:
    """Experiment sizing curve from the MEASURED baseline rate: for a
    grid of relative minimum-detectable effects, the required units
    per arm at α=.05 two-sided / 80% power — the planning table an
    experimentation platform prints before anyone ships a test.

    n/arm = ceil((z_α/2+z_β)² · 2p(1−p) / (p·rel)²); the z constant is
    Python-injected (identical literal in both engines), p is one
    exact integer ratio cast to double, and the whole curve is a fixed
    mirrored double chain per grid row — the qd30/qa33 injected-grid
    idiom, one scan for the baseline no matter how many rows the grid
    has.  `feasible` = both arms fit in the measured population.

    Output per effect: rel_effect_micro, baseline_micro, n_per_arm,
    feasible.
    """
    s = (
        success_col if not isinstance(success_col, str) else F.col(success_col)
    ).cast("long")
    base = (
        df.select(F.col(unit_col).alias("_u"), s.alias("_x"))
        .groupBy("_u")
        .agg(F.max("_x").alias("_c"))
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_c").cast("long").alias("_xs"),
        )
    )
    grid = df.sparkSession.createDataFrame(
        [(int(r),) for r in rel_effects_micro], "rel_effect_micro long"
    )
    p = F.col("_xs").cast("double") / F.col("_n").cast("double")
    rel = F.col("rel_effect_micro").cast("double") / 1_000_000
    delta = p * rel
    n_arm = F.ceil(
        F.lit(float(z2_const)) * 2.0 * p * (1.0 - p) / (delta * delta)
    ).cast("long")
    ok = (F.col("_xs") > 0) & (F.col("_xs") < F.col("_n"))
    return base.crossJoin(F.broadcast(grid)).select(
        "rel_effect_micro",
        F.round(F.col("_xs") * 1_000_000 / F.col("_n"))
        .cast("long")
        .alias("baseline_micro"),
        F.when(ok, n_arm).alias("n_per_arm"),
        F.when(ok, n_arm * 2 <= F.col("_n")).alias("feasible"),
    )


def yuen_trimmed_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    lo_pct: int = 10,
    hi_pct: int = 90,
) -> DataFrame:
    """Yuen's robust two-sample t-test on trimmed means with winsorized
    variances — the heavy-tail-safe replacement for the plain t-test
    (Yuen 1974), sharing qc28's VALUE-based trim convention: cuts are
    exact type-1 per-group percentile values, rows tied with a cut are
    KEPT (the only trim rule that is deterministic across engines;
    count-based g-trimming isn't, under ties).

    All moments fold over the per-group value histogram (one shuffle):
    trimmed sum/count, winsorized sum and sum-of-squares (decimal38).
    With A = n·SSw − Sw² exact, the variance term is
    d = A / (n·h·(h−1)) and t = (m̄₁−m̄₂)/√(d₁+d₂) with Welch df
    (d₁+d₂)²/(d₁²/(h₁−1)+d₂²/(h₂−1)) — doubles enter only in this
    fixed mirrored assembly, milli-rounded once.

    Output (single row): n_a, h_a, tmean_a_milli, n_b, h_b,
    tmean_b_milli, t_milli, df_milli.
    """
    dec = lambda c: c.cast("decimal(38,0)")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("long").alias("_x"),
    ).where(F.col("_g").isin(group_a, group_b))
    hist = base.groupBy("_g", "_x").agg(
        F.count("*").cast("long").alias("_c")
    )
    wg = Window.partitionBy("_g").orderBy("_x")
    staged = hist.select(
        "_g",
        "_x",
        "_c",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_g")).alias("_n"),
    )
    cuts = staged.groupBy("_g").agg(
        F.max("_n").cast("long").alias("n"),
        F.min(
            F.when(
                100 * F.col("_cum") >= int(lo_pct) * F.col("_n"), F.col("_x")
            )
        )
        .cast("long")
        .alias("q_lo"),
        F.min(
            F.when(
                100 * F.col("_cum") >= int(hi_pct) * F.col("_n"), F.col("_x")
            )
        )
        .cast("long")
        .alias("q_hi"),
    )
    clamp = F.greatest(F.least(F.col("_x"), F.col("q_hi")), F.col("q_lo"))
    folded = (
        hist.join(cuts, "_g")
        .groupBy("_g")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.when(
                    (F.col("_x") >= F.col("q_lo"))
                    & (F.col("_x") <= F.col("q_hi")),
                    F.col("_x") * F.col("_c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("st"),
            F.sum(
                F.when(
                    (F.col("_x") >= F.col("q_lo"))
                    & (F.col("_x") <= F.col("q_hi")),
                    F.col("_c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("h"),
            F.sum(dec(clamp) * dec(F.col("_c"))).alias("_sw"),
            F.sum(dec(clamp) * dec(clamp) * dec(F.col("_c"))).alias("_ssw"),
        )
    )
    fa = folded.where(F.col("_g") == group_a).select(
        F.col("n").alias("n_a"),
        F.col("st").alias("_sta"),
        F.col("h").alias("h_a"),
        F.col("_sw").alias("_swa"),
        F.col("_ssw").alias("_sswa"),
    )
    fb = folded.where(F.col("_g") == group_b).select(
        F.col("n").alias("n_b"),
        F.col("st").alias("_stb"),
        F.col("h").alias("h_b"),
        F.col("_sw").alias("_swb"),
        F.col("_ssw").alias("_sswb"),
    )
    j = fa.crossJoin(F.broadcast(fb))
    ma = F.col("_sta").cast("double") / F.col("h_a")
    mb = F.col("_stb").cast("double") / F.col("h_b")
    aa = (dec(F.col("n_a")) * F.col("_sswa") - F.col("_swa") * F.col("_swa")).cast(
        "double"
    )
    ab = (dec(F.col("n_b")) * F.col("_sswb") - F.col("_swb") * F.col("_swb")).cast(
        "double"
    )
    da = aa / (
        F.col("n_a").cast("double") * F.col("h_a") * (F.col("h_a") - 1)
    )
    db = ab / (
        F.col("n_b").cast("double") * F.col("h_b") * (F.col("h_b") - 1)
    )
    t = (ma - mb) / F.sqrt(da + db)
    dfree = (
        (da + db)
        * (da + db)
        / (da * da / (F.col("h_a") - 1) + db * db / (F.col("h_b") - 1))
    )
    ok = (F.col("h_a") > 1) & (F.col("h_b") > 1)
    mil = lambda c: F.round(c * 1000).cast("long")
    return j.select(
        "n_a",
        "h_a",
        mil(ma).alias("tmean_a_milli"),
        "n_b",
        "h_b",
        mil(mb).alias("tmean_b_milli"),
        F.when(ok, mil(t)).alias("t_milli"),
        F.when(ok, mil(dfree)).alias("df_milli"),
    )
