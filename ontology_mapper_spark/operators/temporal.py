"""Temporal analytics over event/mention streams (burst detection).

A KG built from transcripts is time-indexed: when an entity's daily
mention volume spikes, that's signal (trending topic, incident, release)
— the classic burst-detection problem (Kleinberg KDD'02 models it with
an HMM; at 100 TB the workhorse is the integer threshold rule below,
which needs one shuffle and no floating point at all).

The burst rule is pure integer cross-multiplication:

    day is a burst  ⟺  n_day · n_active_days · den  >  num · n_total

i.e. the day's count exceeds (num/den)× the entity's average count over
its ACTIVE days — no division, no doubles, bit-identical anywhere.
The per-entity totals come from a window over the same partitioning the
groupBy just produced, so the whole operator is a single shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def burst_days(
    df: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    burst_num: int = 2,
    burst_den: int = 1,
) -> DataFrame:
    """Per (entity, day) mention counts flagged as bursts when the day
    runs more than num/den times the entity's active-day average.

    Output: (entity_col, day 'yyyy-MM-dd', n, n_days, n_total, is_burst)
    — counts bigint, day a formatted string (timestamp-portability
    rule), is_burst boolean.
    """
    counts = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        )
        .groupBy("_e", "day")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("_e")
    return counts.select(
        F.col("_e").alias(entity_col),
        "day",
        F.col("n").cast("long"),
        F.count("*").over(w).cast("long").alias("n_days"),
        F.sum("n").over(w).cast("long").alias("n_total"),
        (
            F.col("n") * F.count("*").over(w) * burst_den
            > burst_num * F.sum("n").over(w)
        ).alias("is_burst"),
    )


def sessionize_native(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window``
    aggregate — the same operator the streaming engine runs with state
    eviction, so batch and stream share semantics. Touching windows
    MERGE: an event exactly at the previous window's end joins that
    session; a new session needs a gap STRICTLY greater than ``gap``
    (pinned by unit test — the q24 lag-flag formulation with `>` is
    the equivalent spec). Complements q24 with the built-in,
    merge-capable physical form.

    Output: (user_col, session_start, session_last, n_events) with
    timestamps as microsecond strings (timestamp-portability rule).
    """
    g = df.groupBy(
        F.col(user_col), F.session_window(F.col(ts_col), gap)
    ).agg(
        F.min(ts_col).alias("_start"),
        F.max(ts_col).alias("_last"),
        F.count("*").alias("n_events"),
    )
    return g.select(
        user_col,
        F.date_format("_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("_last", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_last"),
        F.col("n_events").cast("long"),
    )


def ewma_bursts(
    df: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    alpha_num: int = 2,
    alpha_den: int = 8,
    scale: int = 64,
    burst_num: int = 2,
    burst_den: int = 1,
) -> DataFrame:
    """Trend-adaptive burst detection: per-(entity, day) counts smoothed
    by an exponentially-weighted moving average, a day flagged when it
    exceeds num/den × the PREVIOUS day's smoothed baseline (unlike
    `burst_days`, the baseline tracks drift instead of the global mean).

    Integer-exact recursion (scaled by `scale`, α = alpha_num/alpha_den):

        e_1 = x_1·scale
        e_t = (alpha_num·scale·x_t + (alpha_den−alpha_num)·e_{t−1}) ÷ alpha_den
        burst_t = x_t·scale·burst_den > burst_num·e_{t−1}      (t > 1)

    with ÷ = floor division on non-negative ints — alpha_den MUST be a
    power of two so the Spark shiftright and the oracle's `//` agree
    bit-for-bit with zero floating point.

    EWMA with integer truncation is not associative, so the recursion is
    genuinely sequential PER ENTITY — but a day series is calendar-
    bounded (30 rows/month no matter how many events), so the right
    distributed shape is: aggregate the (entity, day) counts (the only
    data-sized shuffle), then fold each entity's sorted day array with a
    JVM higher-order `aggregate` — no Python, no iteration, no driver.
    """
    assert alpha_den & (alpha_den - 1) == 0, "alpha_den must be a power of two"
    shift = alpha_den.bit_length() - 1
    beta = alpha_den - alpha_num

    counts = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        )
        .groupBy("_e", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    series = counts.groupBy("_e").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("arr")
    )

    out_t = "array<struct<day:string,n:bigint,e:bigint,burst:boolean>>"

    def step(acc, s):
        prev_e = F.element_at(acc, -1)["e"]
        first = F.size(acc) == 0
        e = F.when(first, s["n"] * scale).otherwise(
            F.shiftright(alpha_num * scale * s["n"] + beta * prev_e, shift)
        )
        burst = F.when(first, F.lit(False)).otherwise(
            s["n"] * scale * burst_den > burst_num * prev_e
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["day"].alias("day"),
                    s["n"].alias("n"),
                    e.cast("long").alias("e"),
                    burst.alias("burst"),
                )
            ),
        )

    folded = series.select(
        "_e",
        F.aggregate(F.col("arr"), F.lit([]).cast(out_t), step).alias("ew"),
    )
    return folded.select(
        F.col("_e").alias(entity_col), F.posexplode("ew").alias("pos", "s")
    ).select(
        entity_col,
        F.col("s")["day"].alias("day"),
        F.col("s")["n"].alias("n"),
        F.col("s")["e"].alias("ewma_s"),
        F.col("s")["burst"].alias("is_burst"),
    )


def decayed_edge_weights(
    df: DataFrame,
    src_col: str,
    dst_col: str,
    ts_col: str = "ts",
    tau_days: int = 7,
) -> DataFrame:
    """Recency-decayed edge strength: for every (src, dst) pair, the sum
    over its occurrences of exp(-age/tau), age in whole days behind the
    corpus' newest event — the standard recency weighting a KG applies to
    co-occurrence edges so stale associations fade without a hard window
    (half-life ≈ tau*ln2 days).

    Exactness: occurrences are bucketed to integer epoch-days FIRST
    (unix_micros // 86.4e9 — the contract.py epoch-micro idiom), counts
    per (src, dst, age) are exact integers, and exp is evaluated ONCE per
    distinct (src, dst, age) row on the same double input in any engine,
    micro-rounded before the integer weighted sum.  The reference day
    (max day) is one scalar aggregate.

    Scale: one shuffle keyed by (src, dst, day) for the counting agg,
    one map-side-combinable rollup to (src, dst); the age domain is tiny
    so the exp evaluation adds nothing.  No collect beyond the 1-row max.

    Output: (src, dst, n_events, decayed_micro).
    """
    day = (
        F.floor(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            / F.lit(86_400_000_000)
        )
        .cast("long")
        .alias("_d")
    )
    per_day = (
        df.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_t"), day)
        .groupBy("_s", "_t", "_d")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    ref_day = int(per_day.agg(F.max("_d").alias("m")).collect()[0]["m"])
    weighted = per_day.select(
        "_s",
        "_t",
        "_n",
        F.round(
            F.exp(
                (F.lit(ref_day) - F.col("_d")).cast("double")
                / F.lit(float(-tau_days))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("_w"),
    )
    return weighted.groupBy("_s", "_t").agg(
        F.sum("_n").cast("long").alias("n_events"),
        F.sum(F.col("_n") * F.col("_w")).cast("long").alias("decayed_micro"),
    ).select(
        F.col("_s").alias(src_col),
        F.col("_t").alias(dst_col),
        "n_events",
        "decayed_micro",
    )


def cusum_changepoints(
    df: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    flag_num: int = 1,
    flag_den: int = 5,
) -> DataFrame:
    """Integer CUSUM change-point detection over per-(entity, day)
    counts (Page 1954): with D active days and T total events for an
    entity, the day-d deviation is dev_d = D·n_d − T (count minus mean,
    scaled by D so it stays integer) and the running statistic is
    cusum_d = Σ_{i≤d} dev_i.  A day is flagged when the drift exceeds
    flag_num/flag_den of the entity's total mass:

        is_shift  ⟺  flag_den · |cusum_d|  >  flag_num · D · T

    (both sides integer; |cusum| is in D-scaled units so T is scaled by
    D too).  A sustained rate change keeps |cusum| growing — the flag
    marks the plateau a mean-shift leaves behind, which single-day
    burst rules (``burst_days``) miss.

    Plan: one count shuffle keyed by (entity, day), then entity-window
    totals and a running sum over the SAME partitioning — no second
    shuffle, no floats.  Day ordering is total (day unique per entity).

    Output: (entity_col, day, n, dev, cusum, is_shift).
    """
    counts = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        )
        .groupBy("_e", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    we = Window.partitionBy("_e")
    run = Window.partitionBy("_e").orderBy("day")
    dev = (F.count("*").over(we) * F.col("n") - F.sum("n").over(we)).cast("long")
    with_dev = counts.select(
        "_e",
        "day",
        "n",
        dev.alias("dev"),
        (F.count("*").over(we) * F.sum("n").over(we)).cast("long").alias("_dt"),
    )
    return with_dev.select(
        F.col("_e").alias(entity_col),
        "day",
        "n",
        "dev",
        F.sum("dev").over(run).cast("long").alias("cusum"),
        (
            F.abs(F.sum("dev").over(run)) * flag_den > flag_num * F.col("_dt")
        ).alias("is_shift"),
    )


def cusum_online(
    df: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    mu0_micro: int = 0,
    k_micro: int = 0,
    h_micro: int = 0,
) -> DataFrame:
    """Two-sided Page CUSUM against a FIXED reference rate ``mu0_micro``
    (micro-events/day) — the ONLINE form (``cusum_changepoints`` is the
    retrospective, self-referential-mean form).  The recursive
    definition S⁺_t = max(0, S⁺_{t-1} + (x_t−μ0−k)) is not a window
    sum, but its closed form is: with P_t the running sum of
    (x_t−μ0−k), S⁺_t = P_t − min(0, min_{j≤t} P_j) — so the whole
    operator is one running sum + one running min per side, pure
    integer windows over the (entity, day) counts, no recursion and no
    Python.  Alarm when S± > h_micro.

    The same closed form is what ``streaming.monitor.stream_cusum``
    folds incrementally (state = (P, minP) per side) — parity-tested.

    Output: (entity_col, day, n, s_pos_micro, s_neg_micro, alarm_pos,
    alarm_neg).
    """
    counts = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        )
        .groupBy("_e", "day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    diff_pos = F.col("n") * F.lit(1_000_000) - F.lit(mu0_micro) - F.lit(k_micro)
    diff_neg = F.lit(mu0_micro) - F.col("n") * F.lit(1_000_000) - F.lit(k_micro)
    run = (
        Window.partitionBy("_e")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_p = counts.select(
        "_e",
        "day",
        "n",
        F.sum(diff_pos).over(run).cast("long").alias("_pp"),
        F.sum(diff_neg).over(run).cast("long").alias("_pn"),
    )
    s_pos = F.col("_pp") - F.least(F.lit(0), F.min("_pp").over(run))
    s_neg = F.col("_pn") - F.least(F.lit(0), F.min("_pn").over(run))
    return with_p.select(
        F.col("_e").alias(entity_col),
        "day",
        "n",
        s_pos.cast("long").alias("s_pos_micro"),
        s_neg.cast("long").alias("s_neg_micro"),
        (s_pos > h_micro).alias("alarm_pos"),
        (s_neg > h_micro).alias("alarm_neg"),
    )


def locf_gapfill(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Daily gap-fill with last-observation-carried-forward — the
    backfill step that turns a sparse per-key activity log into the
    dense daily feature table downstream joins expect (no NULL
    explosions, explicit staleness).

    Per key, a dense day spine spans [min observed day, max observed
    day] (``sequence`` + explode — the spine is generated inside the
    key's own rows, so no join against a calendar table and no skew
    beyond the key's own span).  Observed days carry their count; gap
    days carry the last observed count forward plus how stale it is.

    Spine generation is O(span_days) per key and the fill is one
    window over the same key partitioning the groupBy just produced —
    a single shuffle end to end.

    Output: (key_col, day 'yyyy-MM-dd', n_obs nullable bigint, filled
    bigint, staleness_days bigint).  The first spine day is observed by
    construction, so `filled` is never NULL.
    """
    daily = (
        df.select(
            F.col(key_col).alias("_k"),
            F.to_date(ts_col).alias("_d"),
        )
        .groupBy("_k", "_d")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    spine = (
        daily.groupBy("_k")
        .agg(F.min("_d").alias("_d0"), F.max("_d").alias("_d1"))
        .select(
            "_k",
            F.explode(F.sequence("_d0", "_d1", F.expr("interval 1 day"))).alias(
                "_d"
            ),
        )
    )
    run = (
        Window.partitionBy("_k")
        .orderBy("_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = spine.join(daily, ["_k", "_d"], "left").select(
        "_k",
        "_d",
        "n_obs",
        F.last("n_obs", ignorenulls=True).over(run).alias("filled"),
        F.last(
            F.when(F.col("n_obs").isNotNull(), F.col("_d")), ignorenulls=True
        )
        .over(run)
        .alias("_last_d"),
    )
    return filled.select(
        F.col("_k").alias(key_col),
        F.date_format("_d", "yyyy-MM-dd").alias("day"),
        "n_obs",
        F.col("filled").cast("long"),
        F.datediff("_d", "_last_d").cast("long").alias("staleness_days"),
    )


def funnel_stages(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel analysis: how many users reached step k of
    ``steps`` with each step's FIRST qualifying event strictly after
    the previous step's — the product-analytics staple (view → click →
    purchase) and, over transcripts, the task-completion funnel
    (user ask → tool call → resolution).

    Stage k's reach time is the min event time of type steps[k] after
    the user's stage-(k−1) time: one filtered per-user min-agg plus one
    keyed equi-join per step (len(steps) is small and fixed; every join
    is on the user key, AQE-friendly, no window over raw events).  The
    whole funnel is ONE lazy plan — per-stage reach sets are unioned
    and counted in a single aggregate, never counted driver-side per
    step.  Conversion is one integer micro-division per row, vs the
    previous stage (stage 1: vs all distinct users, carried in via a
    broadcast single-row cross join).

    A stage nobody reaches emits no row (and neither do later stages —
    funnel monotonicity), matching the plain relational mirror.

    Output: (stage bigint 1-based, step_name, n_users bigint,
    conv_from_prev_micro bigint).
    """
    base = df.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_t"),
        F.col(ts_col).alias("_ts"),
    )
    reached = base.where(F.col("_t") == steps[0]).groupBy("_u").agg(
        F.min("_ts").alias("_step_ts")
    )
    marked = [reached.select("_u", F.lit(1).alias("stage"))]
    for i, step in enumerate(steps[1:], start=2):
        reached = (
            base.where(F.col("_t") == step)
            .join(
                reached.select("_u", F.col("_step_ts").alias("_prev")), "_u"
            )
            .where(F.col("_ts") > F.col("_prev"))
            .groupBy("_u")
            .agg(F.min("_ts").alias("_step_ts"))
        )
        marked.append(reached.select("_u", F.lit(i).alias("stage")))
    union = marked[0]
    for m in marked[1:]:
        union = union.unionByName(m)
    per_stage = union.groupBy("stage").agg(
        F.count("*").cast("long").alias("n_users")
    )
    spark = df.sparkSession
    names = F.broadcast(
        spark.createDataFrame(
            [(i + 1, s) for i, s in enumerate(steps)],
            "stage int, step_name string",
        )
    )
    n_all = base.select("_u").distinct().agg(
        F.count("*").cast("long").alias("_n_all")
    )
    w = Window.orderBy("stage")  # ≤ len(steps) rows — single tiny partition
    return (
        per_stage.join(names, "stage")
        .crossJoin(F.broadcast(n_all))
        .select(
            F.col("stage").cast("long"),
            "step_name",
            "n_users",
            F.round(
                F.col("n_users")
                * 1_000_000
                / F.coalesce(
                    F.lag("n_users").over(w), F.col("_n_all")
                )
            )
            .cast("long")
            .alias("conv_from_prev_micro"),
        )
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    tracked by how many are active d days later — the corpus-freshness
    / contributor-churn view of an event log.

    Two aggregates and one keyed join: per-user first day (map-side
    combinable min), distinct (user, day) activity, join on the user
    key, then count distinct users per (cohort, offset).  Retention is
    one integer micro-division against the cohort's own size (its
    offset-0 distinct count — every user is active on their first day
    by construction).

    Output: (cohort_day 'yyyy-MM-dd', offset_days bigint, n_active
    bigint, cohort_n bigint, retention_micro bigint).
    """
    act = df.select(
        F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_d")
    ).distinct()
    firsts = act.groupBy("_u").agg(F.min("_d").alias("_c"))
    tri = (
        act.join(firsts, "_u")
        .groupBy("_c", F.datediff("_d", "_c").alias("offset_days"))
        .agg(F.countDistinct("_u").cast("long").alias("n_active"))
    )
    w = Window.partitionBy("_c")
    sized = tri.select(
        "_c",
        F.col("offset_days").cast("long"),
        "n_active",
        F.max(F.when(F.col("offset_days") == 0, F.col("n_active")))
        .over(w)
        .cast("long")
        .alias("cohort_n"),
    )
    return sized.select(
        F.date_format("_c", "yyyy-MM-dd").alias("cohort_day"),
        "offset_days",
        "n_active",
        "cohort_n",
        F.round(F.col("n_active") * 1_000_000 / F.col("cohort_n"))
        .cast("long")
        .alias("retention_micro"),
    )


def seasonal_strength(
    df: DataFrame,
    type_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Day-of-week seasonality strength of an event stream, per type:
    the R² of the "each weekday has its own mean" model over daily
    counts — the variance-decomposition form of "is this metric's
    weekly rhythm real, and how much of the wiggle does it explain?"
    (R² ≈ 0 → alerts keyed to weekday baselines are noise; R² ≈ 1 →
    a flat threshold will page every weekend.)

    Identity used (one-way ANOVA between/total split, all from integer
    sums): with per-dow count n_w and sum s_w, grand sum S, N days,

        R² = (Σ_w s_w²/n_w − S²/N) / (Σ_d y_d² − S²/N)

    Daily counts, per-dow sums and Σy² are exact bigints; each s_w²/n_w
    term is micro-rounded per dow row THEN integer-summed (≤7 terms —
    never an order-dependent double sum), and the final R² is one
    fixed double DAG over those bigints.  Two aggregates over the same
    (type, …) grouping — the dow rollup reuses the daily shuffle's
    partitioning.

    Weekday index is 0=Sunday…6=Saturday (Spark ``dayofweek() − 1`` ==
    DuckDB ``dayofweek()`` — aligned so the oracle replays it).

    Output per type: n_days, mean_daily_micro, r2_dow_micro, peak_dow,
    peak_mean_micro (peak = highest per-dow mean; ties → lowest dow).
    """
    daily = (
        df.select(
            F.col(type_col).alias("_t"),
            F.to_date(ts_col).alias("_d"),
        )
        .groupBy("_t", "_d")
        .agg(F.count("*").cast("long").alias("_y"))
        .select(
            "_t",
            "_y",
            (F.dayofweek("_d") - 1).cast("long").alias("_w"),
        )
    )
    per_dow = daily.groupBy("_t", "_w").agg(
        F.count("*").cast("long").alias("_nw"),
        F.sum("_y").cast("long").alias("_sw"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_qw"),
    )
    # s_w²/n_w micro-rounded per dow (fixed DAG), then integer-summed.
    term = F.round(
        F.col("_sw").cast("double") * F.col("_sw") / F.col("_nw") * 1_000_000
    ).cast("long")
    rank_w = Window.partitionBy("_t").orderBy(
        (F.col("_sw").cast("double") / F.col("_nw")).desc(), F.col("_w").asc()
    )
    ranked = per_dow.select(
        "_t",
        "_nw",
        "_sw",
        "_qw",
        term.alias("_term"),
        F.row_number().over(rank_w).alias("_r"),
        F.col("_w"),
    )
    agg = ranked.groupBy("_t").agg(
        F.sum("_nw").cast("long").alias("n_days"),
        F.sum("_sw").cast("long").alias("_s"),
        F.sum("_qw").cast("long").alias("_q"),
        F.sum("_term").cast("long").alias("_ssb_micro"),
        F.max(F.when(F.col("_r") == 1, F.col("_w"))).cast("long").alias(
            "peak_dow"
        ),
        F.max(
            F.when(
                F.col("_r") == 1,
                F.round(
                    F.col("_sw") * F.lit(1_000_000) / F.col("_nw")
                ).cast("long"),
            )
        ).alias("peak_mean_micro"),
    )
    gt = (
        F.col("_s").cast("double")
        * F.col("_s")
        / F.col("n_days")
        * 1_000_000
    )
    num = F.col("_ssb_micro").cast("double") - gt
    den = F.col("_q").cast("double") * 1_000_000 - gt
    return agg.select(
        F.col("_t").alias(type_col),
        "n_days",
        F.round(F.col("_s") * F.lit(1_000_000) / F.col("n_days"))
        .cast("long")
        .alias("mean_daily_micro"),
        F.when(den > 0.0, F.round(num * 1_000_000 / den).cast("long")).alias(
            "r2_dow_micro"
        ),
        "peak_dow",
        "peak_mean_micro",
    )


def acf_daily(
    df: DataFrame,
    type_col: str,
    ts_col: str = "ts",
    max_lag: int = 3,
) -> DataFrame:
    """Lag-1..max_lag autocorrelation of the daily count series per
    type — the memory/trend probe that complements qa64's seasonal R²
    (high ACF-1 = momentum/bursts; ACF-7 would expose weekly rhythm as
    serial correlation).

    Over the OBSERVED day sequence (days with zero events don't form
    rows — documented; run after locf_gapfill for a calendar-dense
    series), with series sums N, S = Σy, Q = Σy² and per-lag integer
    sums over the (y_t, y_{t−k}) pairs C_k = Σ y·lag, Sh_k = Σ lag,
    St_k = Σ y, n_k pairs:

        r_k = (C_k − ȳ(Sh_k + St_k) + n_k·ȳ²) / (Q − S·ȳ)

    Everything before the final fixed double DAG is exact bigint (the
    lag columns come from ONE window pass that produces all lags).
    Output per type: n_days, then acf<k>_micro for each lag (NULL when
    the lag has no pairs or the series is constant).
    """
    daily = (
        df.select(
            F.col(type_col).alias("_t"),
            F.to_date(ts_col).alias("_d"),
        )
        .groupBy("_t", "_d")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    w = Window.partitionBy("_t").orderBy("_d")
    lagged = daily.select(
        "_t",
        "_y",
        *[F.lag("_y", k).over(w).alias(f"_l{k}") for k in range(1, max_lag + 1)],
    )
    aggs = [
        F.count("*").cast("long").alias("n_days"),
        F.sum("_y").cast("long").alias("_s"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_q"),
    ]
    for k in range(1, max_lag + 1):
        lk = F.col(f"_l{k}")
        aggs += [
            F.sum(F.col("_y") * lk).cast("long").alias(f"_c{k}"),
            F.sum(lk).cast("long").alias(f"_sh{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("_y"))).cast("long").alias(
                f"_st{k}"
            ),
            F.count(lk).cast("long").alias(f"_n{k}"),
        ]
    agg = lagged.groupBy("_t").agg(*aggs)
    ybar = F.col("_s").cast("double") / F.col("n_days")
    den = F.col("_q").cast("double") - F.col("_s").cast("double") * ybar
    outcols = [F.col("_t").alias(type_col), "n_days"]
    for k in range(1, max_lag + 1):
        num = (
            F.col(f"_c{k}").cast("double")
            - ybar * (F.col(f"_sh{k}") + F.col(f"_st{k}"))
            + F.col(f"_n{k}") * ybar * ybar
        )
        outcols.append(
            F.when(
                (F.col(f"_n{k}") > 0) & (den > 0.0),
                F.round(num * 1_000_000 / den).cast("long"),
            ).alias(f"acf{k}_micro")
        )
    return agg.select(*outcols)


def dispersion_daily(
    df: DataFrame,
    type_col: str,
    ts_col: str = "ts",
    vmr_threshold_micro: int = 2_000_000,
) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of daily counts per
    type — the one-number Poisson check: VMR ≈ 1 means arrivals are
    Poisson-like and rate alerts can use √mean bands; VMR ≫ 1 means
    bursty/clumped traffic (bots, batch imports) needs the negative-
    binomial treatment.  Completes the temporal-monitor set (qa64
    rhythm, qa70 memory, qa47/qa54 level shifts).

    Sample variance from exact bigint sums (N, Σy, Σy²); VMR is one
    fixed double DAG micro-rounded; the flag compares the rounded
    integer.  Output per type: n_days, mean_micro, var_micro,
    vmr_micro (NULL when mean is 0 or N < 2), overdispersed.
    """
    daily = (
        df.select(F.col(type_col).alias("_t"), F.to_date(ts_col).alias("_d"))
        .groupBy("_t", "_d")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    agg = daily.groupBy("_t").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("_y").cast("long").alias("_s"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_q"),
    )
    mean = F.col("_s").cast("double") / F.col("n_days")
    var = (
        F.col("_q").cast("double")
        - F.col("_s").cast("double") * F.col("_s") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    vmr = F.when(
        (F.col("n_days") > 1) & (F.col("_s") > 0),
        F.round(var / mean * 1_000_000).cast("long"),
    )
    return agg.select(
        F.col("_t").alias(type_col),
        "n_days",
        F.round(mean * 1_000_000).cast("long").alias("mean_micro"),
        F.when(F.col("n_days") > 1, F.round(var * 1_000_000).cast("long"))
        .alias("var_micro"),
        vmr.alias("vmr_micro"),
        (vmr > vmr_threshold_micro).alias("overdispersed"),
    )


def decay_trend(
    df: DataFrame,
    type_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Log-linear trend fit of daily counts per type — OLS slope of
    ln(count) on day index, i.e. the exponential growth/decay rate, and
    its half-life/doubling-time — "is this source dying, and how fast?"
    for corpus-freshness planning.

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    with x = day offset from the type's first day (exact ints) and
    y = ln_micro(count) (one micro-rounded ln per observed day — the
    q66 discipline), so all four sums are exact bigints and slope /
    intercept / half-life are one terminal double DAG.  Days with zero
    events contribute no row (ln 0) — the fit is over observed days,
    documented.

    Output per type: n_days, slope_micro (micro-nats/day),
    intercept_micro, halflife_days_micro (NULL when slope ≥ 0 —
    growing or flat; ln 2 enters as a micro-int literal).
    """
    daily = (
        df.select(F.col(type_col).alias("_t"), F.to_date(ts_col).alias("_d"))
        .groupBy("_t", "_d")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    w = Window.partitionBy("_t")
    staged = daily.select(
        "_t",
        F.datediff("_d", F.min("_d").over(w)).cast("long").alias("_x"),
        F.round(F.log(F.col("_y").cast("double")) * 1_000_000)
        .cast("long")
        .alias("_ly"),
    )
    agg = staged.groupBy("_t").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_ly").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_x") * F.col("_ly")).cast("long").alias("_sxy"),
    )
    den = (
        F.col("n_days") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    ).cast("double")
    num = (
        F.col("n_days") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ).cast("double")
    slope = num / den  # already micro-scaled (y was micro)
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx")
    ) / F.col("n_days")
    # round(ln(2)*1e6)*1e6 as ONE precomputed literal — 693147*1000000
    # overflows 32-bit int literals in Spark's ANSI mode
    ln2_micro2 = 693_147_000_000
    return agg.select(
        F.col("_t").alias(type_col),
        "n_days",
        F.when(den != 0.0, F.round(slope).cast("long")).alias("slope_micro"),
        F.when(den != 0.0, F.round(intercept).cast("long")).alias(
            "intercept_micro"
        ),
        F.when(
            (den != 0.0) & (slope < 0.0),
            F.round(F.lit(ln2_micro2) / -slope).cast("long"),
        ).alias("halflife_days_micro"),
    )


def sprt_wald_bounds_micro(alpha_pct: int = 5, beta_pct: int = 5) -> tuple[int, int]:
    """Wald SPRT decision bounds ln((1-β)/α), ln(β/(1-α)) as integer
    micros, computed ONCE in Python from exact percent rationals and
    injected into both engines (the ndcg_discounts_micro convention)."""
    import math

    a, b = alpha_pct / 100.0, beta_pct / 100.0
    return (
        round(1_000_000 * math.log((1 - b) / a)),
        round(1_000_000 * math.log(b / (1 - a))),
    )


def sprt_daily_audit(
    df: DataFrame,
    ts_col: str = "ts",
    success_col=None,
    lift_num: int = 12,
    lift_den: int = 10,
    alpha_pct: int = 5,
    beta_pct: int = 5,
) -> DataFrame:
    """Wald sequential probability-ratio test over a daily binary
    metric — "did the success rate shift by the given lift?" with
    always-valid early stopping (Wald 1945): the sequential-experiment
    complement to the CUSUM changepoint monitors (qa47/qa54).

    Baseline p0 = success rate of the FIRST half of the time range
    (midpoint split, the qa87 convention); H1: p1 = p0·lift.  The
    per-day log-likelihood-ratio increment is
        x_t·ln(p1/p0) + (n_t − x_t)·ln((1−p1)/(1−p0)).
    ln(lift) and the Wald bounds are Python-injected integer micros;
    ln((1−p1)/(1−p0)) reduces to ln of ONE division of two int64
    products ((den·n0 − num·x0) / (den·(n0 − x0))) evaluated once
    globally (the qa66 ln idiom), so daily increments are int64
    PRODUCTS and the cumulative LLR an exact running sum.

    Output per post-baseline day: day (string date), n_trials,
    n_success, llr_day_micro, cum_llr_micro, decision
    ('accept_h1' | 'accept_h0' | 'continue').  Degenerate baselines
    (p0 = 0, p1 ≥ 1) return no rows rather than lying.
    """
    import math

    up_micro, lo_micro = sprt_wald_bounds_micro(alpha_pct, beta_pct)
    a_micro = round(1_000_000 * math.log(lift_num / lift_den))
    ts = F.col(ts_col).cast("timestamp")
    succ = (
        success_col if not isinstance(success_col, str) else F.col(success_col)
    ).cast("long")
    base = df.select(
        F.unix_micros(ts).alias("_us"),
        F.date_format(ts, "yyyy-MM-dd").alias("day"),
        succ.alias("_x"),
    )
    ext = base.agg(
        F.min("_us").alias("_lo"),
        F.max("_us").alias("_hi"),
    )
    marked = base.crossJoin(F.broadcast(ext)).select(
        "day",
        "_x",
        (F.col("_us") * 2 < F.col("_lo") + F.col("_hi")).alias("_pre"),
    )
    pre = marked.where(F.col("_pre")).agg(
        F.count("*").cast("long").alias("_n0"),
        F.sum("_x").cast("long").alias("_x0"),
    )
    num, den = int(lift_num), int(lift_den)
    # B_micro = round(1e6 * ln((den*n0 - num*x0) / (den*(n0 - x0)))),
    # guarded: needs 0 < x0, p1 < 1, x0 < n0
    bconst = pre.select(
        "_n0",
        "_x0",
        F.when(
            (F.col("_x0") > 0)
            & (F.col("_x0") < F.col("_n0"))
            & (F.lit(den) * F.col("_n0") > F.lit(num) * F.col("_x0")),
            F.round(
                F.lit(1_000_000.0)
                * F.log(
                    (F.lit(den) * F.col("_n0") - F.lit(num) * F.col("_x0")).cast(
                        "double"
                    )
                    / (F.lit(den) * (F.col("_n0") - F.col("_x0")))
                )
            ).cast("long"),
        ).alias("_b_micro"),
    )
    daily = (
        marked.where(~F.col("_pre"))
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_trials"),
            F.sum("_x").cast("long").alias("n_success"),
        )
    )
    wday = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = (
        daily.crossJoin(F.broadcast(bconst))
        .where(F.col("_b_micro").isNotNull())
        .select(
            "day",
            "n_trials",
            "n_success",
            (
                F.col("n_success") * F.lit(int(a_micro))
                + (F.col("n_trials") - F.col("n_success")) * F.col("_b_micro")
            )
            .cast("long")
            .alias("llr_day_micro"),
        )
        .withColumn(
            "cum_llr_micro", F.sum("llr_day_micro").over(wday).cast("long")
        )
    )
    return out.select(
        "day",
        "n_trials",
        "n_success",
        "llr_day_micro",
        "cum_llr_micro",
        F.when(F.col("cum_llr_micro") >= F.lit(int(up_micro)), "accept_h1")
        .when(F.col("cum_llr_micro") <= F.lit(int(lo_micro)), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


def its_slope_change(
    df: DataFrame,
    ts_col: str = "ts",
    metric_col=None,
) -> DataFrame:
    """Interrupted-time-series audit: daily metric OLS trend fitted
    SEPARATELY on the first and second half of the time range, plus
    the slope change and the level jump at the boundary — "did the
    deploy bend the curve?" as one distributed job (segmented
    regression, Wagner et al. 2002).

    Daily sums are int64 (metric floored, the qa87 convention); per
    half, slope and intercept come from the five exact OLS moments
    over the DAY table (days are indexed 0..n−1 within each half, so
    Σt, Σt² are small integers), each a single micro-rounded division
    of exact bigints.  The level jump compares the pre-fit's
    extrapolation at the first post day against the post-fit's value
    there — all integer arithmetic on the already-rounded micro slopes
    (deterministic in any engine).

    Output (single row): n_days_pre, n_days_post, slope_pre_micro,
    slope_post_micro, delta_slope_micro, intercept_pre_micro,
    intercept_post_micro, level_jump_micro (NULL when either half has
    < 2 days).
    """
    m = (
        F.lit(1).cast("long")
        if metric_col is None
        else (
            metric_col if not isinstance(metric_col, str) else F.col(metric_col)
        ).cast("long")
    )
    ts = F.col(ts_col).cast("timestamp")
    base = df.select(
        F.unix_micros(ts).alias("_us"),
        (F.unix_micros(ts) / F.lit(86_400_000_000)).cast("long").alias("_d"),
        m.alias("_m"),
    )
    ext = base.agg(F.min("_us").alias("_lo"), F.max("_us").alias("_hi"))
    daily = (
        base.crossJoin(F.broadcast(ext))
        .select(
            "_d",
            "_m",
            (F.col("_us") * 2 < F.col("_lo") + F.col("_hi")).alias("_pre"),
        )
        .groupBy("_d", "_pre")
        .agg(F.sum("_m").cast("long").alias("_y"))
    )
    wh = Window.partitionBy("_pre").orderBy("_d")
    idx = daily.select(
        "_pre",
        "_y",
        (F.row_number().over(wh) - 1).cast("long").alias("_t"),
    )
    mo = idx.groupBy("_pre").agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_t").cast("long").alias("_st"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_stt"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_t") * F.col("_y")).cast("long").alias("_sty"),
    )
    num = F.col("_n") * F.col("_sty") - F.col("_st") * F.col("_sy")
    den = F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")
    staged = mo.select(
        "_pre",
        "_n",
        "_st",
        "_sy",
        F.when(
            F.col("_n") >= 2,
            F.round(num * F.lit(1_000_000) / den).cast("long"),
        ).alias("_slope"),
    )
    # intercept from the already-rounded micro slope: keeps both engines
    # on identical integer inputs (mean_y - slope * mean_t, micro scale)
    fitted = staged.select(
        "_pre",
        F.col("_n").alias("n_days"),
        "_slope",
        F.when(
            F.col("_n") >= 2,
            F.round(
                (
                    F.col("_sy") * F.lit(1_000_000)
                    - F.col("_slope") * F.col("_st")
                )
                / F.col("_n")
            ).cast("long"),
        ).alias("_icept"),
    )
    pre = fitted.where(F.col("_pre")).select(
        F.col("n_days").alias("n_days_pre"),
        F.col("_slope").alias("slope_pre_micro"),
        F.col("_icept").alias("intercept_pre_micro"),
    )
    post = fitted.where(~F.col("_pre")).select(
        F.col("n_days").alias("n_days_post"),
        F.col("_slope").alias("slope_post_micro"),
        F.col("_icept").alias("intercept_post_micro"),
    )
    j = pre.crossJoin(F.broadcast(post))
    ok = F.col("slope_pre_micro").isNotNull() & F.col(
        "slope_post_micro"
    ).isNotNull()
    return j.select(
        "n_days_pre",
        "n_days_post",
        "slope_pre_micro",
        "slope_post_micro",
        F.when(
            ok, F.col("slope_post_micro") - F.col("slope_pre_micro")
        ).cast("long").alias("delta_slope_micro"),
        "intercept_pre_micro",
        "intercept_post_micro",
        # pre-fit extrapolated to the first post day (t = n_days_pre) vs
        # the post fit's own level there (t = 0): pure integer arithmetic
        # on already-rounded micros
        F.when(
            ok,
            F.col("intercept_post_micro")
            - (
                F.col("intercept_pre_micro")
                + F.col("slope_pre_micro") * F.col("n_days_pre")
            ),
        ).cast("long").alias("level_jump_micro"),
    )


def peak_concurrency_daily(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """Peak simultaneous sessions per day — the capacity number behind
    "how many concurrent conversations must the serving tier hold?".
    Sessions are the q24 lag-gap cut (new session when the same user's
    gap exceeds `gap_s` seconds — pinned equivalent to native
    session_window); each session contributes +1 at its clamped start
    and −1 one microsecond after its clamped end, and the per-day
    boundary sweep (a window ORDERED inside the day partition — never
    a global sort) takes the running-sum maximum.

    Sessions spanning midnight are clipped into every day they touch
    (sequence-explode over their day range, bounded by session length).
    Everything is integer epoch-microseconds; the peak instant reports
    as peak_at_us (bigint) for portability.  Ties at the same instant
    resolve starts-before-ends (+1 sorts first), then by user/session
    for a total order.

    Output per day: day (string 'yyyy-MM-dd'), n_sessions (sessions
    active that day), peak_concurrent, peak_at_us.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(user_col).alias("_u"), us.alias("_us"))
    wlag = Window.partitionBy("_u").orderBy("_us")
    flagged = base.select(
        "_u",
        "_us",
        F.when(
            F.lag("_us", 1).over(wlag).isNull()
            | (F.col("_us") - F.lag("_us", 1).over(wlag) > gap_s * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    sess = flagged.select(
        "_u",
        "_us",
        F.sum("_new").over(
            wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_sid"),
    )
    bounds = sess.groupBy("_u", "_sid").agg(
        F.min("_us").alias("_s"), F.max("_us").alias("_e")
    )
    day_us = F.lit(86_400_000_000)
    days = bounds.select(
        "_u",
        "_sid",
        "_s",
        "_e",
        F.explode(
            F.sequence(
                F.expr("_s div 86400000000"), F.expr("_e div 86400000000")
            )
        ).alias("_day"),
    ).select(
        "_u",
        "_sid",
        "_day",
        F.greatest(F.col("_s"), F.col("_day") * day_us).alias("_cs"),
        (
            F.least(F.col("_e"), (F.col("_day") + 1) * day_us - 1) + 1
        ).alias("_ce"),
    )
    marks = days.select(
        "_day",
        F.col("_cs").alias("_t"),
        F.lit(1).alias("_delta"),
        "_u",
        "_sid",
    ).unionByName(
        days.select(
            "_day",
            F.col("_ce").alias("_t"),
            F.lit(-1).alias("_delta"),
            "_u",
            "_sid",
        )
    )
    wsweep = Window.partitionBy("_day").orderBy(
        F.col("_t"), F.col("_delta").desc(), F.col("_u"), F.col("_sid")
    )
    swept = marks.select(
        "_day",
        "_t",
        "_u",
        "_sid",
        F.sum("_delta")
        .over(wsweep.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_cum"),
    )
    wpick = Window.partitionBy("_day").orderBy(
        F.col("_cum").desc(), F.col("_t"), F.col("_u"), F.col("_sid")
    )
    peaks = swept.withColumn("_rn", F.row_number().over(wpick)).where(
        F.col("_rn") == 1
    )
    nsess = days.groupBy("_day").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    return (
        peaks.join(nsess, "_day")
        .select(
            # date_add from the epoch day index: renders 'yyyy-MM-dd' with
            # no session-timezone dependence (timestamp_micros would)
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("_day").cast("int")
            )
            .cast("string")
            .alias("day"),
            "n_sessions",
            F.col("_cum").cast("long").alias("peak_concurrent"),
            F.col("_t").cast("long").alias("peak_at_us"),
        )
    )


def diff_in_diff(
    df: DataFrame,
    unit_col: str,
    treated_col,
    ts_col: str = "ts",
    metric_col=None,
) -> DataFrame:
    """Difference-in-differences point estimate over a midpoint-split
    panel — the third leg of the causal-audit stool next to CUPED
    (qa87, variance) and interrupted time series (qb00, single-series
    trend): with a CONTROL group in hand, DiD nets out the shared time
    shock that ITS cannot.

    The four cell means (treated/control × pre/post) are each ONE
    micro-rounded division of int64 sums (metric floored first, the
    qa87 convention); the estimate is pure integer arithmetic on the
    rounded micros.  One shuffle (the 4-cell groupBy).

    Output (single row): n_treated_pre/post, n_control_pre/post,
    mean_t_pre/post_micro, mean_c_pre/post_micro, did_micro (NULL when
    any cell is empty).
    """
    m = (
        F.lit(1).cast("long")
        if metric_col is None
        else (
            metric_col if not isinstance(metric_col, str) else F.col(metric_col)
        ).cast("long")
    )
    t = treated_col if not isinstance(treated_col, str) else F.col(treated_col)
    ts = F.col(ts_col).cast("timestamp")
    base = df.select(
        t.cast("boolean").alias("_t"),
        F.unix_micros(ts).alias("_us"),
        m.alias("_m"),
    )
    ext = base.agg(F.min("_us").alias("_lo"), F.max("_us").alias("_hi"))
    cells = (
        base.crossJoin(F.broadcast(ext))
        .select(
            "_t",
            (F.col("_us") * 2 < F.col("_lo") + F.col("_hi")).alias("_pre"),
            "_m",
        )
        .groupBy("_t", "_pre")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_m").cast("long").alias("_s"),
        )
    )
    mean = F.round(F.col("_s") * F.lit(1_000_000) / F.col("_n")).cast("long")
    named = cells.select(
        F.concat(
            F.when(F.col("_t"), F.lit("t")).otherwise(F.lit("c")),
            F.when(F.col("_pre"), F.lit("_pre")).otherwise(F.lit("_post")),
        ).alias("_cell"),
        F.col("_n"),
        mean.alias("_mean"),
    )
    pivoted = named.groupBy().pivot(
        "_cell", ["t_pre", "t_post", "c_pre", "c_post"]
    ).agg(F.max("_mean"))
    counts = named.groupBy().pivot(
        "_cell", ["t_pre", "t_post", "c_pre", "c_post"]
    ).agg(F.max("_n"))
    j = pivoted.crossJoin(
        F.broadcast(
            counts.select(
                F.col("t_pre").alias("n_treated_pre"),
                F.col("t_post").alias("n_treated_post"),
                F.col("c_pre").alias("n_control_pre"),
                F.col("c_post").alias("n_control_post"),
            )
        )
    )
    full = (
        F.col("t_pre").isNotNull()
        & F.col("t_post").isNotNull()
        & F.col("c_pre").isNotNull()
        & F.col("c_post").isNotNull()
    )
    return j.select(
        F.coalesce("n_treated_pre", F.lit(0)).cast("long").alias(
            "n_treated_pre"
        ),
        F.coalesce("n_treated_post", F.lit(0)).cast("long").alias(
            "n_treated_post"
        ),
        F.coalesce("n_control_pre", F.lit(0)).cast("long").alias(
            "n_control_pre"
        ),
        F.coalesce("n_control_post", F.lit(0)).cast("long").alias(
            "n_control_post"
        ),
        F.col("t_pre").cast("long").alias("mean_t_pre_micro"),
        F.col("t_post").cast("long").alias("mean_t_post_micro"),
        F.col("c_pre").cast("long").alias("mean_c_pre_micro"),
        F.col("c_post").cast("long").alias("mean_c_post_micro"),
        F.when(
            full,
            (
                (F.col("t_post") - F.col("t_pre"))
                - (F.col("c_post") - F.col("c_pre"))
            ).cast("long"),
        ).alias("did_micro"),
    )


def changepoint_binary_seg(
    df: DataFrame,
    ts_col,
    value_col=None,
) -> DataFrame:
    """Single-changepoint detection on the daily series by binary
    segmentation: the split that maximizes the between-segment sum-of-
    squares gain — the "WHEN did the metric shift" finder completing
    qb00's ITS (which assumes the breakpoint is known) and the CUSUM
    monitors (which stream forward).  value_col=None analyzes the
    daily EVENT COUNT; otherwise the daily sum of an integer value.

    For daily totals y_1..y_D with prefix sums S_d over D days, the
    SSE gain of splitting after day d is

        gain(d) = S_d²/d + (S_D−S_d)²/(D−d) − S_D²/D

    Prefix sums come from a window over the DAY SPINE (bounded); the
    gain is three divisions of exact int64 squares combined in one
    fixed double order, micro-rounded per candidate split; the argmax
    is orderBy+limit (TakeOrderedAndProject), never a global sort.

    Output (single row): split_day ('yyyy-MM-dd', last day of the LEFT
    segment), n_days_left, n_days_right, mean_left_micro,
    mean_right_micro, gain_micro.
    """
    t = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    v = (
        F.lit(1).cast("long")
        if value_col is None
        else (
            value_col if not isinstance(value_col, str) else F.col(value_col)
        ).cast("long")
    )
    # parquet timestamps load as TIMESTAMP_NTZ; unix_micros needs TZ —
    # session TZ is pinned UTC so the cast is the identity rendering
    us = F.unix_micros(t.cast("timestamp"))
    # exact epoch-day: (a - a%b)/b divides exactly, so the double
    # division cannot round across an integer boundary (plain a/b can)
    day = ((us - F.pmod(us, F.lit(86_400_000_000))) / F.lit(86_400_000_000)).cast(
        "long"
    )
    daily = (
        df.select(day.alias("_d"), v.alias("_v"))
        .groupBy("_d")
        .agg(F.sum("_v").cast("long").alias("_y"))
    )
    widx = Window.orderBy("_d")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = daily.select(
        "_d",
        F.row_number().over(widx).cast("long").alias("_i"),
        F.sum("_y").over(
            widx.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("_s"),
        F.count("*").over(wall).cast("long").alias("_ndays"),
        F.sum("_y").over(wall).cast("long").alias("_tot"),
    ).where(F.col("_i") < F.col("_ndays"))
    gain = (
        F.col("_s").cast("double") * F.col("_s").cast("double")
        / F.col("_i").cast("double")
        + (F.col("_tot") - F.col("_s")).cast("double")
        * (F.col("_tot") - F.col("_s")).cast("double")
        / (F.col("_ndays") - F.col("_i")).cast("double")
        - F.col("_tot").cast("double") * F.col("_tot").cast("double")
        / F.col("_ndays").cast("double")
    )
    scored = staged.select(
        "_d",
        "_i",
        "_s",
        "_ndays",
        "_tot",
        F.round(gain * F.lit(MICRO)).cast("long").alias("gain_micro"),
    )
    best = scored.orderBy(F.col("gain_micro").desc(), F.col("_d")).limit(1)
    return best.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("_d").cast("int")),
            "yyyy-MM-dd",
        ).alias("split_day"),
        F.col("_i").alias("n_days_left"),
        (F.col("_ndays") - F.col("_i")).alias("n_days_right"),
        F.round(F.col("_s") * F.lit(MICRO) / F.col("_i"))
        .cast("long")
        .alias("mean_left_micro"),
        F.round(
            (F.col("_tot") - F.col("_s")) * F.lit(MICRO)
            / (F.col("_ndays") - F.col("_i"))
        )
        .cast("long")
        .alias("mean_right_micro"),
        "gain_micro",
    )


def vocabulary_turnover(
    df: DataFrame,
    ts_col,
    entity_col,
) -> DataFrame:
    """Day-over-day entity-set turnover: for every consecutive-day pair,
    the Jaccard of the two days' distinct entity sets and the share of
    the later day that is NEW — the "is the stream drifting or looping"
    KG-freshness meter (novelty_curve tracks first-ever appearance;
    turnover tracks local churn).

    One distinct (day, entity) aggregate, one self-join on day+1 (keyed
    by entity), integer counts, single micro divisions.

    Output per consecutive-day pair: day ('yyyy-MM-dd', the LATER day),
    n_prev, n_cur, n_common, jaccard_micro, new_micro (share of the
    later day's entities unseen the day before).
    """
    t = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    e = entity_col if not isinstance(entity_col, str) else F.col(entity_col)
    us = F.unix_micros(t.cast("timestamp"))
    day = ((us - F.pmod(us, F.lit(86_400_000_000))) / F.lit(86_400_000_000)).cast(
        "long"
    )
    de = df.select(day.alias("_d"), e.alias("_e")).distinct()
    sizes = de.groupBy("_d").agg(F.count("*").cast("long").alias("_n"))
    common = (
        de.alias("a")
        .join(
            de.alias("b"),
            (F.col("a._e") == F.col("b._e"))
            & (F.col("b._d") == F.col("a._d") + 1),
        )
        .groupBy(F.col("b._d").alias("_d"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    prev = sizes.select((F.col("_d") + 1).alias("_d"), F.col("_n").alias("n_prev"))
    cur = sizes.select("_d", F.col("_n").alias("n_cur"))
    joined = (
        cur.join(prev, "_d")
        .join(common, "_d", "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)).cast("long"))
    )
    union = F.col("n_prev") + F.col("n_cur") - F.col("n_common")
    return joined.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("_d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n_prev",
        "n_cur",
        "n_common",
        F.round(F.col("n_common") * F.lit(MICRO) / union)
        .cast("long")
        .alias("jaccard_micro"),
        F.round(
            (F.col("n_cur") - F.col("n_common")) * F.lit(MICRO) / F.col("n_cur")
        )
        .cast("long")
        .alias("new_micro"),
    )


def aba_motifs(
    df: DataFrame,
    user_col,
    type_col,
    ts_col,
    id_col,
) -> DataFrame:
    """A→B→A temporal motif counts: per user, consecutive event triples
    where the outer types match and the middle differs — the smallest
    nontrivial interaction motif (retry/oscillation/dialogue patterns),
    the sequence-level complement of qa13's one-step transition matrix.

    Per-user ordering is a PARTITIONED window with a (ts, id) total
    order; two leads, one filter, one count — a single shuffle on the
    user key.

    Output per (type_a, type_b): type_a, type_b, n_motifs, n_users
    (distinct users exhibiting the motif).
    """
    u = user_col if not isinstance(user_col, str) else F.col(user_col)
    ty = type_col if not isinstance(type_col, str) else F.col(type_col)
    t = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    i = id_col if not isinstance(id_col, str) else F.col(id_col)
    w = Window.partitionBy("_u").orderBy("_ts", "_id")
    seq = df.select(
        u.alias("_u"), ty.alias("_t0"), t.alias("_ts"), i.alias("_id")
    ).select(
        "_u",
        "_t0",
        F.lead("_t0", 1).over(w).alias("_t1"),
        F.lead("_t0", 2).over(w).alias("_t2"),
    )
    motifs = seq.where(
        F.col("_t2").isNotNull()
        & (F.col("_t0") == F.col("_t2"))
        & (F.col("_t0") != F.col("_t1"))
    )
    return motifs.groupBy(
        F.col("_t0").alias("type_a"), F.col("_t1").alias("type_b")
    ).agg(
        F.count("*").cast("long").alias("n_motifs"),
        F.countDistinct("_u").cast("long").alias("n_users"),
    )


def interarrival_burstiness(
    df: DataFrame,
    key_cols: list[str],
    group_col: str,
    ts_col,
    id_col,
) -> DataFrame:
    """Per-group inter-arrival statistics with the Goh–Barabási
    burstiness index B = (σ−μ)/(σ+μ) over POOLED gaps: B ≈ -1 for
    clockwork streams, 0 for Poisson, → 1 for bursty ones — the rhythm
    profile that tells a capacity planner whether qb03's peak was a
    fluke.

    Gaps are exact integer microseconds from a lag over a PARTITIONED
    (key) window with a (ts, id) total order.  The MEAN uses raw µs
    sums (linear — no overflow).  The second moment would overflow
    int64 on µs gaps (a one-month gap squares to 6.7e24), so B is
    computed on WHOLE-SECOND gaps CAPPED at one day: Σg and Σg² stay
    exact int64 up to ~10⁹ gaps per group, and the cap is a semantic
    choice, not just a numeric one — burstiness measures within-stream
    rhythm; multi-day dormancy is a session break, not a beat.  Mean,
    population σ, and B come from one fixed-order double expression
    each.  NULL B for degenerate groups (fewer than 2 gaps or zero
    mean+σ).

    Output per group: group, n_gaps, mean_gap_us (uncapped),
    burstiness_micro (capped-second basis).
    """
    t = ts_col if not isinstance(ts_col, str) else F.col(ts_col)
    i = id_col if not isinstance(id_col, str) else F.col(id_col)
    us = F.unix_micros(t.cast("timestamp"))
    base = df.select(
        *[F.col(c).alias(f"_k{j}") for j, c in enumerate(key_cols)],
        F.col(group_col).alias("_g"),
        us.alias("_us"),
        i.alias("_id"),
    )
    kcols = [f"_k{j}" for j in range(len(key_cols))]
    w = Window.partitionBy(*kcols).orderBy("_us", "_id")
    gaps = base.select(
        "_g", (F.col("_us") - F.lag("_us", 1).over(w)).alias("_gap")
    ).where(F.col("_gap").isNotNull())
    gap_s = F.least(
        (
            (F.col("_gap") - F.pmod(F.col("_gap"), F.lit(1_000_000)))
            / F.lit(1_000_000)
        ).cast("long"),
        F.lit(86_400),
    )
    agg = gaps.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("_gap").cast("long").alias("_su"),
        F.sum(gap_s).cast("long").alias("_s1"),
        F.sum(gap_s * gap_s).cast("long").alias("_s2"),
    )
    mean = F.col("_s1").cast("double") / F.col("n_gaps").cast("double")
    # population variance: (n·Σg² − (Σg)²)/n², kept in one fixed order
    var = (
        F.col("n_gaps").cast("double") * F.col("_s2").cast("double")
        - F.col("_s1").cast("double") * F.col("_s1").cast("double")
    ) / (F.col("n_gaps").cast("double") * F.col("n_gaps").cast("double"))
    sd = F.sqrt(var)
    mean_us = F.col("_su").cast("double") / F.col("n_gaps").cast("double")
    return agg.select(
        F.col("_g").alias(group_col),
        "n_gaps",
        F.round(mean_us).cast("long").alias("mean_gap_us"),
        F.when(
            (F.col("n_gaps") >= 2) & (sd + mean > 0),
            F.round((sd - mean) * F.lit(MICRO) / (sd + mean)).cast("long"),
        ).alias("burstiness_micro"),
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    val_col: str = "value",
    group_col: str = "event_type",
    id_col: str = "event_id",
    bucket_fmt: str = "yyyy-MM-dd HH",
) -> DataFrame:
    """OHLC (candlestick) bars: per (group, time bucket), the opening /
    high / low / closing value plus count and volume — the standard
    downsampling aggregate for event-valued streams (and the shape every
    metrics rollup at 100 TB wants: ONE shuffle on (group, bar), no
    windows, no self-joins).

    Exactness: values are fixed to integer cents per ROW
    (`round(value·100)` — the inputs carry two decimals), so every sum
    is int64 and order-independent.  Open/close are `min_by`/`max_by`
    under the TOTAL order (ts, id) — the id tiebreak makes the bar
    deterministic even with simultaneous events, which a bare
    first/last-by-ts is not.

    Output: (group, bar, n_events, open_cents, high_cents, low_cents,
    close_cents, volume_cents).
    """
    cents = F.round(F.col(val_col) * 100).cast("long")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.date_format(F.col(ts_col).cast("timestamp"), bucket_fmt).alias(
            "bar"
        ),
        F.struct(
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
            F.col(id_col).cast("long").alias("id"),
        ).alias("_ord"),
        cents.alias("_c"),
    )
    return base.groupBy("_g", "bar").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min_by("_c", "_ord").alias("open_cents"),
        F.max("_c").alias("high_cents"),
        F.min("_c").alias("low_cents"),
        F.max_by("_c", "_ord").alias("close_cents"),
        F.sum("_c").cast("long").alias("volume_cents"),
    ).withColumnRenamed("_g", group_col)


def last_touch_attribution(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    horizon_hours: int = 24,
) -> DataFrame:
    """Last-touch attribution: each conversion event is credited to the
    most recent PRECEDING touch event by the same user within the
    horizon; conversions with no in-horizon touch fall into the 'none'
    bucket (reported, never dropped — unattributed volume is the
    number that tells you the horizon is wrong).

    One window per user (`last(..., ignorenulls)` carrying a
    (ts, touch_type) struct under the total order (ts, id)) — the
    partitioned-carry idiom, a single shuffle on user, no self-join:
    the classic sessionization-adjacent shape that stays linear at
    100 TB where a conversions×touches range join would not.

    Output: (touch_type, n_conversions, value_cents) with value fixed
    to integer cents per row before summation.
    """
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    w = Window.partitionBy(user_col).orderBy(*order)
    is_touch = F.col(type_col).isin(*touch_types)
    carry = F.last(
        F.when(
            is_touch,
            F.struct(
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
                F.col(type_col).alias("t"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    conv = (
        df.withColumn("_touch", carry)
        .where(F.col(type_col) == conversion_type)
        .select(
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
            F.round(F.col(val_col) * 100).cast("long").alias("_cents"),
            F.col("_touch"),
        )
    )
    horizon_us = int(horizon_hours) * 3_600 * MICRO
    credited = F.when(
        F.col("_touch").isNotNull()
        & (F.col("_us") - F.col("_touch.us") <= F.lit(horizon_us)),
        F.col("_touch.t"),
    ).otherwise(F.lit("none"))
    return conv.groupBy(credited.alias("touch_type")).agg(
        F.count("*").cast("long").alias("n_conversions"),
        F.sum("_cents").cast("long").alias("value_cents"),
    )


def linear_attribution(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    horizon_hours: int = 24,
) -> DataFrame:
    """Linear multi-touch attribution: every conversion's credit
    (1 000 000 micro-units) is split EVENLY across all in-horizon
    preceding touches by the same user; the integer-division remainder
    goes to the LAST touch (most recent), so per-conversion credit sums
    to exactly 1e6 and the whole report is order-independent int64.
    Conversions with no in-horizon touch put their full credit in the
    reported 'none' bucket.

    Shape: one REVERSED carry window per user assigns each touch to its
    nearest FOLLOWING conversion (the journey key), one partitioned
    count/rank window sizes each journey — two shuffles on user, no
    touches-by-conversions range join, linear at 100 TB.

    Output: (touch_type, n_touches, credit_micro, value_micro_cents)
    where value_micro_cents = sum(conversion cents × credit share in
    micro) — divide by 1e6 for attributed revenue in cents.
    """
    base = df.select(
        F.col(user_col).alias("_u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(type_col).alias("_t"),
        F.round(F.col(val_col) * 100).cast("long").alias("_cents"),
    )
    w_desc = Window.partitionBy("_u").orderBy(
        F.col("_us").desc(), F.col("_id").desc()
    )
    conv_struct = F.when(
        F.col("_t") == conversion_type,
        F.struct(
            F.col("_us").alias("us"),
            F.col("_id").alias("id"),
            F.col("_cents").alias("cents"),
        ),
    )
    horizon_us = int(horizon_hours) * 3_600 * MICRO
    touches = (
        base.withColumn(
            "_conv", F.last(conv_struct, ignorenulls=True).over(w_desc)
        )
        .where(
            F.col("_t").isin(*touch_types)
            & F.col("_conv").isNotNull()
            & (F.col("_conv.us") - F.col("_us") <= F.lit(horizon_us))
        )
    )
    wj = Window.partitionBy("_u", "_conv.us", "_conv.id")
    wj_rank = wj.orderBy(F.col("_us").asc(), F.col("_id").asc())
    sized = touches.select(
        "_t",
        F.col("_conv.cents").alias("_ccents"),
        F.count("*").over(wj).alias("_n"),
        F.row_number().over(wj_rank).alias("_pos"),
    )
    share = F.expr(f"CAST({MICRO} AS BIGINT) div _n")
    credit = F.when(
        F.col("_pos") == F.col("_n"),
        F.lit(MICRO) - share * (F.col("_n") - 1),
    ).otherwise(share)
    credited = sized.select(
        F.col("_t").alias("touch_type"),
        credit.cast("long").alias("_credit"),
        (F.col("_ccents") * credit).cast("long").alias("_vmicro"),
    )
    journeys = touches.select(
        F.col("_u").alias("_ju"),
        F.col("_conv.us").alias("_jus"),
        F.col("_conv.id").alias("_jid"),
    ).distinct()
    none_rows = (
        base.where(F.col("_t") == conversion_type)
        .join(
            journeys,
            (F.col("_u") == F.col("_ju"))
            & (F.col("_us") == F.col("_jus"))
            & (F.col("_id") == F.col("_jid")),
            "left_anti",
        )
        .select(
            F.lit("none").alias("touch_type"),
            F.lit(MICRO).cast("long").alias("_credit"),
            (F.col("_cents") * F.lit(MICRO)).cast("long").alias("_vmicro"),
        )
    )
    return (
        credited.unionByName(none_rows)
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("_credit").cast("long").alias("credit_micro"),
            F.sum("_vmicro").cast("long").alias("value_micro_cents"),
        )
    )


def event_time_disorder(
    df: DataFrame,
    ts_col: str = "ts",
    arrival_col: str = "event_id",
    late_threshold_s: int = 3600,
    bucket_div: int = 1 << 12,
) -> DataFrame:
    """Event-time disorder audit — the number that tunes
    ``withWatermark``: per event-time day, how far events arrive behind
    the running event-time maximum in ARRIVAL order (``arrival_col``,
    an ingestion-monotone id).  Reports nearest-rank p50/p99 disorder
    seconds and the share later than ``late_threshold_s`` — set the
    watermark delay at/above the observed p99 and the late share is
    what streaming would drop.

    The running max is TWO-PHASE (the qb43 discipline): per-day arrival
    buckets (arrival div bucket_div) aggregate their max ts, a window
    over the per-day BUCKET table (bounded rows per day) takes the
    exclusive prefix max, and the within-bucket running max runs
    partitioned by (day, bucket) — no window ever spans a raw
    billion-row day partition.  Disorder quantiles come off the
    per-day second-histogram's cumulative counts (qb48 idiom).

    Output per day: (day, n_events, p50_disorder_s, p99_disorder_s,
    n_late, late_share_micro).
    """
    day_us = 86_400_000_000
    base = df.select(
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(arrival_col).cast("long").alias("_a"),
    ).select(
        F.expr(f"_us div {day_us}").alias("_day"),
        "_us",
        "_a",
        F.expr(f"_a div {bucket_div}").alias("_b"),
    )
    btot = base.groupBy("_day", "_b").agg(F.max("_us").alias("_bmax"))
    wb = (
        Window.partitionBy("_day")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = btot.select(
        "_day", "_b", F.max("_bmax").over(wb).alias("_prev_max")
    )
    wr = (
        Window.partitionBy("_day", "_b")
        .orderBy("_a")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = (
        base.join(offsets, ["_day", "_b"])
        .select(
            "_day",
            "_us",
            F.greatest(
                F.coalesce(F.col("_prev_max"), F.lit(-(1 << 62))),
                F.max("_us").over(wr),
            ).alias("_rmax"),
        )
        .select(
            "_day",
            F.expr("(_rmax - _us) div 1000000").alias("_lag_s"),
        )
    )
    hist = run.groupBy("_day", "_lag_s").agg(F.count("*").alias("_c"))
    wd = (
        Window.partitionBy("_day")
        .orderBy("_lag_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "_day", "_lag_s", F.col("_c"), F.sum("_c").over(wd).alias("_cum")
    )
    n = run.groupBy("_day").agg(F.count("*").cast("long").alias("n_events"))
    ranked = cum.join(F.broadcast(n), "_day").select(
        "_day",
        "_lag_s",
        "_cum",
        F.expr("(50 * n_events + 99) div 100").alias("_r50"),
        F.expr("(99 * n_events + 99) div 100").alias("_r99"),
    )
    p50 = (
        ranked.where(F.col("_cum") >= F.col("_r50"))
        .groupBy("_day")
        .agg(F.min("_lag_s").cast("long").alias("p50_disorder_s"))
    )
    p99 = (
        ranked.where(F.col("_cum") >= F.col("_r99"))
        .groupBy("_day")
        .agg(F.min("_lag_s").cast("long").alias("p99_disorder_s"))
    )
    late = run.groupBy("_day").agg(
        F.sum(
            F.when(F.col("_lag_s") > int(late_threshold_s), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_late")
    )
    return (
        n.join(p50, "_day")
        .join(p99, "_day")
        .join(late, "_day")
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01"), F.col("_day").cast("int")),
                "yyyy-MM-dd",
            ).alias("day"),
            "n_events",
            "p50_disorder_s",
            "p99_disorder_s",
            "n_late",
            F.round(F.col("n_late") * F.lit(1_000_000) / F.col("n_events"))
            .cast("long")
            .alias("late_share_micro"),
        )
    )


def half_life_decayed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    max_age_days: int = 40,
) -> DataFrame:
    """Trending score: per key the EXACT one-day-half-life decayed
    event count at the corpus max day — weight 2^(−age_days), which is
    a power-of-two rational, so the whole series is computed as one
    int64 numerator Σ c_d · 2^(max_age − age) and a single division by
    2^max_age that IEEE doubles perform EXACTLY (the qa66 power-of-two
    discipline; no transcendental, no accumulation error).  Ages beyond
    ``max_age_days`` carry weight 0 (< 1 trillionth at the default 40
    half-lives); the int64 bound is daily_count <= 2^(62-max_age_days).

    Output per key: (key, n_total, decayed_milli, share_micro) where
    share is the key's fraction of the total decayed mass — both from
    the int64 numerators, terminal ratios evaluated once in double
    with a fixed mirrored op order (never a double sum).
    """
    day_us = 86_400_000_000
    base = df.select(
        F.col(key_col).alias("_k"),
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
        ).alias("_day"),
    )
    anchor = base.agg(F.max("_day").alias("_anchor"))
    daily = (
        base.join(F.broadcast(anchor))
        .select("_k", (F.col("_anchor") - F.col("_day")).alias("_age"))
        .groupBy("_k", "_age")
        .agg(F.count("*").cast("long").alias("_c"))
    )
    m = int(max_age_days)
    num = daily.groupBy("_k").agg(
        F.sum(
            F.when(
                F.col("_age") <= m,
                F.col("_c")
                * F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST({m} - _age AS INT))"
                ),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("_num"),
        F.sum("_c").cast("long").alias("n_total"),
    )
    tot = num.agg(F.sum("_num").cast("long").alias("_tot"))
    return num.join(F.broadcast(tot)).select(
        F.col("_k").alias(key_col),
        "n_total",
        F.round(
            F.col("_num").cast("double")
            * F.lit(1000.0)
            / F.lit(float(1 << m))
        )
        .cast("long")
        .alias("decayed_milli"),
        F.round(
            F.col("_num").cast("double")
            * F.lit(1_000_000.0)
            / F.col("_tot").cast("double")
        )
        .cast("long")
        .alias("share_micro"),
    )


def hour_dow_profile(
    df: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-day × day-of-week intensity matrix with independence
    residuals — the calendar heatmap plus "is the weekly rhythm real"
    in one pass: per (dow, hour) cell the observed count, the
    independence-expected count (row·col/total, one micro-rounded
    division per CELL — 168 cells, the qa91 per-cell discipline) and
    the Pearson residual (o−e)/√e in milli, evaluated in double with a
    fixed mirrored op order from int64 marginals.

    Pure UTC calendar arithmetic from epoch micros (dow via
    (epoch_day + 4) % 7, Thursday anchor; hour via µs-of-day) — no
    session-timezone dependence anywhere.

    Output: (dow, hour, n_obs, expected_micro, resid_milli).
    """
    day_us = 86_400_000_000
    hour_us = 3_600_000_000
    base = df.select(
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us")
    ).select(
        ((F.expr(f"_us div {day_us}") + 4) % 7).alias("dow"),
        F.expr(f"(_us % {day_us}) div {hour_us}").alias("hour"),
    )
    cells = base.groupBy("dow", "hour").agg(
        F.count("*").cast("long").alias("n_obs")
    )
    rows_ = cells.groupBy("dow").agg(F.sum("n_obs").alias("_r"))
    cols_ = cells.groupBy("hour").agg(F.sum("n_obs").alias("_c"))
    tot = cells.agg(F.sum("n_obs").alias("_t"))
    j = (
        cells.join(F.broadcast(rows_), "dow")
        .join(F.broadcast(cols_), "hour")
        .join(F.broadcast(tot))
    )
    e = F.col("_r").cast("double") * F.col("_c").cast("double") / F.col(
        "_t"
    ).cast("double")
    return j.select(
        F.col("dow").cast("long").alias("dow"),
        F.col("hour").cast("long").alias("hour"),
        "n_obs",
        F.round(e * F.lit(1_000_000)).cast("long").alias("expected_micro"),
        F.round(
            (F.col("n_obs").cast("double") - e) / F.sqrt(e) * F.lit(1000.0)
        )
        .cast("long")
        .alias("resid_milli"),
    )


def time_to_conversion(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    horizon_hours: int = 24,
) -> DataFrame:
    """Conversion-latency distribution per touch type: for every
    conversion, the whole-second gap to its most recent in-horizon
    preceding touch (the qb40 forward-carry window), rolled up per
    touch type as exact type-1 p50/p90 read off the per-type
    second-histogram's cumulative counts (qb48 idiom) plus the mean on
    exact integer sums — the "how long does intent take to close"
    number that sets attribution horizons and retargeting delays.

    Output per touch type: (touch_type, n_conversions, mean_s,
    p50_s, p90_s).
    """
    base = df.select(
        F.col(user_col).alias("_u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(type_col).alias("_t"),
    )
    w = Window.partitionBy("_u").orderBy(
        F.col("_us").asc(), F.col("_id").asc()
    )
    touch_struct = F.when(
        F.col("_t").isin(*touch_types),
        F.struct(F.col("_us").alias("us"), F.col("_t").alias("t")),
    )
    horizon_us = int(horizon_hours) * 3_600 * MICRO
    conv = (
        base.withColumn(
            "_touch", F.last(touch_struct, ignorenulls=True).over(w)
        )
        .where(
            (F.col("_t") == conversion_type)
            & F.col("_touch").isNotNull()
            & (F.col("_us") - F.col("_touch.us") <= F.lit(horizon_us))
        )
        .select(
            F.col("_touch.t").alias("touch_type"),
            F.expr("(_us - _touch.us) div 1000000").alias("_gap_s"),
        )
    )
    hist = conv.groupBy("touch_type", "_gap_s").agg(
        F.count("*").alias("_c")
    )
    wc = (
        Window.partitionBy("touch_type")
        .orderBy("_gap_s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "touch_type", "_gap_s", F.sum("_c").over(wc).alias("_cum")
    )
    agg = conv.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_conversions"),
        F.sum("_gap_s").cast("long").alias("_sum_s"),
    )
    ranked = cum.join(F.broadcast(agg), "touch_type").select(
        "touch_type",
        "_gap_s",
        "_cum",
        F.expr("(50 * n_conversions + 99) div 100").alias("_r50"),
        F.expr("(90 * n_conversions + 99) div 100").alias("_r90"),
    )
    p50 = (
        ranked.where(F.col("_cum") >= F.col("_r50"))
        .groupBy("touch_type")
        .agg(F.min("_gap_s").cast("long").alias("p50_s"))
    )
    p90 = (
        ranked.where(F.col("_cum") >= F.col("_r90"))
        .groupBy("touch_type")
        .agg(F.min("_gap_s").cast("long").alias("p90_s"))
    )
    return (
        agg.join(p50, "touch_type")
        .join(p90, "touch_type")
        .select(
            "touch_type",
            "n_conversions",
            F.expr("_sum_s div n_conversions").cast("long").alias(
                "mean_s"
            ),
            "p50_s",
            "p90_s",
        )
    )


def ltv_curve(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    val_col: str = "value",
    purchase_type: str = "purchase",
) -> DataFrame:
    """Cohort lifetime-value curve: users cohorted by their FIRST
    activity week (any event — signup proxy), revenue accumulated per
    week of age — the per-cohort payback trajectory (cohort qa59 is
    its retention sibling; this is the money view).

    Cumulative sums run over the (cohort, age) WEEK spine —
    calendar-bounded rows, partitioned by cohort — and the denominator
    is the fixed cohort size, so cum_per_user_milli =
    round(1000·cum_cents/n_users) is one division per cell.  Only
    OBSERVED (cohort, age) cells appear; the cumulative value at an
    observed age includes all earlier weeks regardless (documented —
    a reporting layer can forward-fill the spine).

    Output: (cohort_week, age_week, n_users, week_cents, cum_cents,
    cum_per_user_milli) with cohort_week the week-start date string.
    """
    week_us = 7 * 86_400_000_000
    base = df.select(
        F.col(user_col).alias("_u"),
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {week_us}"
        ).alias("_wk"),
        F.col(type_col).alias("_t"),
        F.round(F.col(val_col) * 100).cast("long").alias("_cents"),
    )
    cohorts = base.groupBy("_u").agg(F.min("_wk").alias("_cwk"))
    sizes = cohorts.groupBy("_cwk").agg(
        F.count("*").cast("long").alias("n_users")
    )
    rev = (
        base.where(F.col("_t") == purchase_type)
        .join(cohorts, "_u")
        .groupBy("_cwk", (F.col("_wk") - F.col("_cwk")).alias("age_week"))
        .agg(F.sum("_cents").cast("long").alias("week_cents"))
    )
    wcum = (
        Window.partitionBy("_cwk")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.select(
        "_cwk",
        F.col("age_week").cast("long").alias("age_week"),
        "week_cents",
        F.sum("week_cents").over(wcum).cast("long").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "_cwk").select(
        F.date_format(
            F.date_add(
                F.lit("1970-01-01"), (F.col("_cwk") * 7).cast("int")
            ),
            "yyyy-MM-dd",
        ).alias("cohort_week"),
        "age_week",
        "n_users",
        "week_cents",
        "cum_cents",
        F.round(F.col("cum_cents") * F.lit(1000) / F.col("n_users"))
        .cast("long")
        .alias("cum_per_user_milli"),
    )


def anomalous_days(
    df: DataFrame,
    ts_col: str = "ts",
    window_days: int = 7,
    z_milli_threshold: int = 3000,
) -> DataFrame:
    """Outlier-day detection on the daily volume series: each day's
    count z-scored against the TRAILING ``window_days`` observed days
    (rows, not calendar — gaps documented) — the every-incident
    companion to qb25's single changepoint.  All moments are exact
    int64 window sums over the DAY SPINE (calendar-bounded rows); the
    z statistic is one fixed-order double expression, and the flag
    compares the ROUNDED z_milli to an integer threshold (qb54
    discipline).  Days with fewer than ``window_days`` predecessors
    report null z (no flag).

    Output per day: (day, n_events, trail_mean_milli, z_milli,
    anomaly_flag).
    """
    day_us = 86_400_000_000
    w = int(window_days)
    daily = (
        df.select(
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_day")
        )
        .groupBy("_day")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    wt = Window.orderBy("_day").rowsBetween(-w, -1)
    trail = daily.select(
        "_day",
        "n_events",
        F.sum("n_events").over(wt).alias("_s"),
        F.sum(F.col("n_events") * F.col("n_events")).over(wt).alias("_ss"),
        F.count("n_events").over(wt).alias("_k"),
    )
    mean_d = F.col("_s").cast("double") / F.lit(float(w))
    var_d = (
        F.col("_ss").cast("double")
        - F.col("_s").cast("double") * F.col("_s").cast("double")
          / F.lit(float(w))
    ) / F.lit(float(w - 1))
    z_milli = F.round(
        (F.col("n_events").cast("double") - mean_d)
        / F.sqrt(var_d)
        * F.lit(1000.0)
    ).cast("long")
    z = F.when((F.col("_k") == w) & (var_d > 0), z_milli)
    return trail.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01"), F.col("_day").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n_events",
        F.when(
            F.col("_k") == w,
            F.round(F.col("_s") * F.lit(1000) / F.lit(w)).cast("long"),
        ).alias("trail_mean_milli"),
        z.alias("z_milli"),
        F.when(F.abs(z) > int(z_milli_threshold), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("anomaly_flag"),
    )


def theil_sen_daily(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Theil-Sen robust trend of the daily volume per group: the
    MEDIAN of all pairwise slopes (y_j - y_i) / (d_j - d_i) over the
    group's day spine — the outlier-resistant companion to qa81/qb00's
    OLS trends (one wild day moves OLS, not the pairwise median;
    breakdown point 29%).

    Exactness: per-pair slope is ONE micro-rounded single division of
    int64 counts; the median over those integer milli-slopes is the
    type-1 lower median (2*cum >= n, qa79/qb43 idiom), so both engines
    rank identical integers.  Intercept = type-1 median of
    (1000*y_i - slope_milli*d_i) residual levels.  OLS slope reported
    for contrast from exact int64 moments (one terminal division).

    Scale: the pairwise self-join runs per group over the DAY SPINE
    (calendar-bounded: rows/group = observed days, pairs = O(days^2)
    of a bounded spine), never over raw events — the same bounded-
    window argument as qb63's allowlist entry.

    Output per group: (group, n_days, ts_slope_milli,
    ts_intercept_milli, ols_slope_milli).
    """
    day_us = 86_400_000_000
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_day"),
        )
        .groupBy("_g", "_day")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    gmin = Window.partitionBy("_g")
    spine = daily.select(
        "_g",
        (F.col("_day") - F.min("_day").over(gmin)).cast("long").alias("_d"),
        "_y",
    )
    a = spine.select(
        F.col("_g"), F.col("_d").alias("_di"), F.col("_y").alias("_yi")
    )
    b = spine.select(
        F.col("_g").alias("_gb"),
        F.col("_d").alias("_dj"),
        F.col("_y").alias("_yj"),
    )
    pairs = a.join(
        b, (a["_g"] == b["_gb"]) & (F.col("_di") < F.col("_dj"))
    ).select(
        "_g",
        F.round(
            (F.col("_yj") - F.col("_yi"))
            * F.lit(1000)
            / (F.col("_dj") - F.col("_di"))
        )
        .cast("long")
        .alias("_s"),
    )
    wcum = Window.partitionBy("_g").orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("_g")
    med = (
        pairs.select(
            "_g",
            "_s",
            F.count("*").over(wcum).alias("_c"),
            F.count("*").over(wall).alias("_n"),
        )
        .groupBy("_g")
        .agg(
            F.min(F.when(F.col("_c") * 2 >= F.col("_n"), F.col("_s")))
            .cast("long")
            .alias("ts_slope_milli")
        )
    )
    resid = spine.join(med, "_g").select(
        "_g",
        (F.col("_y") * 1000 - F.col("ts_slope_milli") * F.col("_d"))
        .cast("long")
        .alias("_r"),
    )
    rcum = Window.partitionBy("_g").orderBy("_r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    inter = (
        resid.select(
            "_g",
            "_r",
            F.count("*").over(rcum).alias("_c"),
            F.count("*").over(wall).alias("_n"),
        )
        .groupBy("_g")
        .agg(
            F.min(F.when(F.col("_c") * 2 >= F.col("_n"), F.col("_r")))
            .cast("long")
            .alias("ts_intercept_milli")
        )
    )
    mom = spine.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("_d").cast("long").alias("_sd"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_d") * F.col("_d")).cast("long").alias("_sdd"),
        F.sum(F.col("_d") * F.col("_y")).cast("long").alias("_sdy"),
    )
    ols = mom.select(
        "_g",
        "n_days",
        F.when(
            F.col("n_days") * F.col("_sdd") - F.col("_sd") * F.col("_sd")
            > 0,
            F.round(
                (
                    F.col("n_days") * F.col("_sdy")
                    - F.col("_sd") * F.col("_sy")
                )
                * F.lit(1000)
                / (
                    F.col("n_days") * F.col("_sdd")
                    - F.col("_sd") * F.col("_sd")
                )
            ).cast("long"),
        ).alias("ols_slope_milli"),
    )
    return (
        med.join(inter, "_g")
        .join(ols, "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_days",
            "ts_slope_milli",
            "ts_intercept_milli",
            "ols_slope_milli",
        )
    )


def time_in_hour_buckets(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Overlap-weighted session-time allocation onto calendar hours —
    "how much live session time lands in each hour of day", the
    usage-billing / load-profile primitive.  Sessions are the q24 gap
    rule (> ``gap_minutes`` starts a new one); each session's
    [start, end] micros interval is split EXACTLY across the hour
    buckets it covers (clip with greatest/least), so the per-hour
    allocations sum to total session duration by construction — the
    conservation property the tests pin.

    Scale: the only expansion is sequence(start_hour, end_hour) per
    session — bounded by session length in hours, never a cross join;
    allocation arithmetic is pure int64 micros.

    Output per hour-of-day: (hour_of_day, n_slices, n_sessions,
    total_micros) — n_slices counts session-hour fragments, n_sessions
    distinct sessions touching the hour (session key u*1e6+sid; sids
    are per-user ordinals, far below 1e6 by construction).
    """
    hour_us = 3_600_000_000
    gap_us = int(gap_minutes) * 60_000_000
    wu = Window.partitionBy("_u").orderBy("_t")
    ev = df.select(
        F.col(user_col).alias("_u"),
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP))").alias("_t"),
    )
    marked = ev.select(
        "_u",
        "_t",
        F.when(
            F.col("_t") - F.lag("_t").over(wu) > gap_us, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_new"),
    )
    sess = marked.select(
        "_u",
        "_t",
        F.sum("_new")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_sid"),
    ).groupBy("_u", "_sid").agg(
        F.min("_t").alias("_start"), F.max("_t").alias("_end")
    )
    hours = sess.select(
        "_u",
        "_sid",
        "_start",
        "_end",
        F.explode(
            F.sequence(
                (F.col("_start") / hour_us).cast("long"),
                (F.col("_end") / hour_us).cast("long"),
            )
        ).alias("_h"),
    )
    alloc = hours.select(
        (F.col("_h") % 24).cast("long").alias("hour_of_day"),
        (F.col("_u") * 1_000_000 + F.col("_sid")).alias("_skey"),
        (
            F.least(F.col("_end"), (F.col("_h") + 1) * hour_us)
            - F.greatest(F.col("_start"), F.col("_h") * hour_us)
        )
        .cast("long")
        .alias("_micros"),
    )
    return (
        alloc.groupBy("hour_of_day")
        .agg(
            F.count("*").cast("long").alias("n_slices"),
            F.countDistinct("_skey").cast("long").alias("n_sessions"),
            F.sum("_micros").cast("long").alias("total_micros"),
        )
        .orderBy("hour_of_day")
    )


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    season_days: int = 7,
) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster on the
    daily volume series: forecast(d) = count(d - season) vs the
    actual, scored with MAE and MASE (MAE over the one-step naive
    count(d-1) errors as the scale) — the "is a model even worth it"
    baseline every forecasting effort must beat, and the qb63/qa64
    companion that turns seasonality into a measured error number.

    Lags run over the group's observed-day spine via calendar
    self-alignment (join day-season and day-1 rows; gap days simply
    produce no evaluation row — documented, not imputed).  Errors and
    their sums are exact int64; MAE is one micro-rounded division;
    MASE is ONE division of two cross-multiplied int64 products so no
    intermediate ratio is ever materialized.  beats_naive flags on the
    ROUNDED mase_micro (qb54 discipline).

    Output per group: (group, n_days, n_eval, mae_milli,
    naive_mae_milli, mase_micro, beats_naive).
    """
    day_us = 86_400_000_000
    s = int(season_days)
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_day"),
        )
        .groupBy("_g", "_day")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    lag_s = daily.select(
        F.col("_g").alias("_gs"),
        (F.col("_day") + s).alias("_ds"),
        F.col("_y").alias("_ys"),
    )
    lag_1 = daily.select(
        F.col("_g").alias("_g1"),
        (F.col("_day") + 1).alias("_d1"),
        F.col("_y").alias("_y1"),
    )
    ev = (
        daily.join(
            lag_s,
            (daily["_g"] == lag_s["_gs"]) & (daily["_day"] == lag_s["_ds"]),
        )
        .join(
            lag_1,
            (daily["_g"] == lag_1["_g1"]) & (daily["_day"] == lag_1["_d1"]),
        )
        .select(
            "_g",
            F.abs(F.col("_y") - F.col("_ys")).cast("long").alias("_es"),
            F.abs(F.col("_y") - F.col("_y1")).cast("long").alias("_e1"),
        )
    )
    nd = daily.groupBy("_g").agg(F.count("*").cast("long").alias("n_days"))
    agg = ev.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_eval"),
        F.sum("_es").cast("long").alias("_ses"),
        F.sum("_e1").cast("long").alias("_se1"),
    )
    mase = F.when(
        F.col("_se1") > 0,
        F.round(
            F.col("_ses")
            * F.lit(1_000_000)
            / F.col("_se1")
        ).cast("long"),
    )
    return (
        nd.join(agg, "_g")
        .select(
            F.col("_g").alias(group_col),
            "n_days",
            "n_eval",
            F.when(
                F.col("n_eval") > 0,
                F.round(
                    F.col("_ses") * F.lit(1000) / F.col("n_eval")
                ).cast("long"),
            ).alias("mae_milli"),
            F.when(
                F.col("n_eval") > 0,
                F.round(
                    F.col("_se1") * F.lit(1000) / F.col("n_eval")
                ).cast("long"),
            ).alias("naive_mae_milli"),
            mase.alias("mase_micro"),
            F.when(mase.isNotNull(), (mase < 1_000_000).cast("long"))
            .cast("long")
            .alias("beats_naive"),
        )
    )


def time_decay_attribution(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    horizon_hours: int = 24,
    half_life_hours: int = 6,
) -> DataFrame:
    """Time-decay multi-touch attribution — the third leg of the
    attribution family (qb40 last-touch, qb42 linear): each journey's
    credit is split over its in-horizon touches proportionally to
    2^(-age/half_life), so recent touches earn more without the
    last-touch cliff.

    Exactness: the decay exponent is the INTEGER age div half_life
    (bounded by horizon/half_life), so weights are exact small ints
    2^(e_cap - e); per-journey shares are floor divisions of
    1e6*w/sum(w) with the remainder assigned to the LAST touch —
    credit conserves to exactly 1e6 per conversion (qb42 discipline),
    everything int64.  Same two-window journey shape as linear
    attribution (reversed carry + journey partition), no range join.

    Output: (touch_type, n_touches, credit_micro, value_micro_cents)
    plus the 'none' bucket for unattributed conversions.
    """
    base = df.select(
        F.col(user_col).alias("_u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(type_col).alias("_t"),
        F.round(F.col(val_col) * 100).cast("long").alias("_cents"),
    )
    w_desc = Window.partitionBy("_u").orderBy(
        F.col("_us").desc(), F.col("_id").desc()
    )
    conv_struct = F.when(
        F.col("_t") == conversion_type,
        F.struct(
            F.col("_us").alias("us"),
            F.col("_id").alias("id"),
            F.col("_cents").alias("cents"),
        ),
    )
    horizon_us = int(horizon_hours) * 3_600 * MICRO
    hl_us = int(half_life_hours) * 3_600 * MICRO
    e_cap = int(horizon_hours) // int(half_life_hours)
    touches = base.withColumn(
        "_conv", F.last(conv_struct, ignorenulls=True).over(w_desc)
    ).where(
        F.col("_t").isin(*touch_types)
        & F.col("_conv").isNotNull()
        & (F.col("_conv.us") - F.col("_us") <= F.lit(horizon_us))
    )
    weighted = touches.select(
        "_u",
        "_t",
        "_us",
        "_id",
        F.col("_conv.us").alias("_cus"),
        F.col("_conv.id").alias("_cid"),
        F.col("_conv.cents").alias("_ccents"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST({e_cap} - ((_conv.us - _us) div {hl_us}) AS INT))"
        )
        .cast("long")
        .alias("_w"),
    )
    wj = Window.partitionBy("_u", "_cus", "_cid")
    wj_rank = wj.orderBy(F.col("_us").asc(), F.col("_id").asc())
    sized = weighted.select(
        "_u",
        "_cus",
        "_cid",
        "_t",
        "_ccents",
        F.col("_w"),
        F.sum("_w").over(wj).alias("_sw"),
        F.count("*").over(wj).alias("_n"),
        F.row_number().over(wj_rank).alias("_pos"),
    )
    floor_credit = F.expr(f"(CAST({MICRO} AS BIGINT) * _w) div _sw")
    sized = sized.withColumn("_fc", floor_credit).withColumn(
        "_fcsum", F.sum("_fc").over(wj)
    )
    credit = F.when(
        F.col("_pos") == F.col("_n"),
        F.col("_fc") + (F.lit(MICRO) - F.col("_fcsum")),
    ).otherwise(F.col("_fc"))
    credited = sized.select(
        F.col("_t").alias("touch_type"),
        credit.cast("long").alias("_credit"),
        (F.col("_ccents") * credit).cast("long").alias("_vmicro"),
    )
    journeys = touches.select(
        F.col("_u").alias("_ju"),
        F.col("_conv.us").alias("_jus"),
        F.col("_conv.id").alias("_jid"),
    ).distinct()
    none_rows = (
        base.where(F.col("_t") == conversion_type)
        .join(
            journeys,
            (F.col("_u") == F.col("_ju"))
            & (F.col("_us") == F.col("_jus"))
            & (F.col("_id") == F.col("_jid")),
            "left_anti",
        )
        .select(
            F.lit("none").alias("touch_type"),
            F.lit(MICRO).cast("long").alias("_credit"),
            (F.col("_cents") * F.lit(MICRO)).cast("long").alias("_vmicro"),
        )
    )
    return (
        credited.unionByName(none_rows)
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("_credit").cast("long").alias("credit_micro"),
            F.sum("_vmicro").cast("long").alias("value_micro_cents"),
        )
    )


def stickiness_daily(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    week_days: int = 7,
    month_days: int = 28,
) -> DataFrame:
    """DAU / WAU / MAU + stickiness ratios per day — the product-
    analytics engagement panel.  EXACT rolling distinct counts via the
    forward-explode trick: each distinct (user, active_day) row is
    exploded to the `month_days` following days it keeps the user
    "active within window" for, then one distinct + one count per day
    — a bounded x28 expansion of the (user, day) table (NOT raw
    events), the exact complement to qb46's mergeable-HLL rolling
    distincts (use that path when the user x day table itself is too
    hot).  Days outside the observed calendar are clipped.

    Output per day: (day, dau, wau, mau, dau_wau_micro, dau_mau_micro,
    wau_mau_micro) with micro ratios as single rounded divisions.
    """
    day_us = 86_400_000_000
    ud = (
        df.select(
            F.col(user_col).alias("_u"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_d"),
        )
        .distinct()
    )
    bounds = ud.agg(
        F.min("_d").alias("_lo"), F.max("_d").alias("_hi")
    )
    dau = ud.groupBy("_d").agg(F.count("*").cast("long").alias("dau"))

    def _window_counts(days: int, name: str) -> DataFrame:
        ex = ud.select(
            "_u",
            F.explode(
                F.sequence(F.col("_d"), F.col("_d") + (days - 1))
            ).alias("_d2"),
        ).distinct()
        return (
            ex.crossJoin(F.broadcast(bounds))
            .where(F.col("_d2") <= F.col("_hi"))
            .groupBy(F.col("_d2").alias("_d"))
            .agg(F.count("*").cast("long").alias(name))
        )

    wau = _window_counts(int(week_days), "wau")
    mau = _window_counts(int(month_days), "mau")
    out = dau.join(wau, "_d").join(mau, "_d")
    r = lambda a, b: F.round(  # noqa: E731
        F.col(a) * F.lit(MICRO) / F.col(b)
    ).cast("long")
    return out.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01"), F.col("_d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "dau",
        "wau",
        "mau",
        r("dau", "wau").alias("dau_wau_micro"),
        r("dau", "mau").alias("dau_mau_micro"),
        r("wau", "mau").alias("wau_mau_micro"),
    ).orderBy("day")


def shapley_lattice(channels: tuple[str, ...]) -> list[tuple]:
    """(channel, bit, subset-without-channel mask, |S|!(n-|S|-1)!) rows
    — shared by shapley_attribution and the qb76 oracle so both
    engines consume the SAME factorial weights (parity by
    construction, the qa89 injected-constant discipline)."""
    import math

    n = len(channels)
    rows = []
    for i, ch in enumerate(channels):
        others = [j for j in range(n) if j != i]
        for pick in range(1 << (n - 1)):
            s = 0
            for k, j in enumerate(others):
                if pick & (1 << k):
                    s |= 1 << j
            size = bin(s).count("1")
            w_num = math.factorial(size) * math.factorial(n - size - 1)
            rows.append((ch, 1 << i, s, w_num))
    return rows


def shapley_attribution(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    channels: tuple[str, ...] = ("click", "view", "signup"),
    conversion_type: str = "purchase",
) -> DataFrame:
    """Data-driven Shapley channel attribution — the order-free,
    interaction-aware credit completing qb40/qb42/time-decay (those
    split single journeys; Shapley asks what each channel contributes
    ACROSS exposure combinations): with v(S) = conversion rate of
    users whose exposure set is CONTAINED in S (defined for every
    coalition; v(empty) = unexposed rate — the exact-set variant goes
    negative for never-observed channels), channel c earns
    sum_{S not containing c} |S|!(n-|S|-1)!/n! * (v(S+c) - v(S)).

    Everything reduces to the 2^n-row exposure-mask table after ONE
    user-level aggregate (n is the channel count, a dimension — 8
    rows here); the factorial weights are Python-injected integers
    over the common denominator n!, v's are micro-rounded single
    divisions, and each credit is one terminal rounded division by
    n!.  Efficiency (sum of credits = v(full) - v(empty)) holds in
    the pre-rounding rationals — pinned by the unit test.

    Output per channel: (channel, n_users_exposed, credit_micro).
    """
    import math

    n = len(channels)
    spark = df.sparkSession
    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        *[
            F.max(
                F.when(F.col(type_col) == ch, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"_b{i}")
            for i, ch in enumerate(channels)
        ],
        F.max(
            F.when(F.col(type_col) == conversion_type, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("_conv"),
    )
    mask_expr = None
    for i in range(n):
        term = F.col(f"_b{i}") * F.lit(1 << i)
        mask_expr = term if mask_expr is None else mask_expr + term
    mt = per_user.groupBy(mask_expr.cast("long").alias("_m")).agg(
        F.count("*").cast("long").alias("_nu"),
        F.sum("_conv").cast("long").alias("_nc"),
    )
    # coalition value over ALL 2^n masks: v(S) = conversion rate among
    # users whose exposure set is CONTAINED in S (m & S = m) — defined
    # everywhere, v(empty) = unexposed rate
    spine = spark.range(1 << n).select(F.col("id").cast("long").alias("_s"))
    v = (
        spine.join(F.broadcast(mt), F.expr("(_m & _s) = _m"), "left")
        .groupBy("_s")
        .agg(
            F.sum("_nu").cast("long").alias("_nus"),
            F.sum("_nc").cast("long").alias("_ncs"),
        )
        .select(
            F.col("_s").alias("_m"),
            F.when(
                F.col("_nus") > 0,
                F.round(F.col("_ncs") * F.lit(MICRO) / F.col("_nus"))
                .cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("_v"),
        )
    )
    lattice = spark.createDataFrame(
        shapley_lattice(channels),
        "channel string, bit long, s long, w_num long",
    )
    vs = v.select(F.col("_m").alias("_ms"), F.col("_v").alias("_vs"))
    vsc = v.select(F.col("_m").alias("_msc"), F.col("_v").alias("_vsc"))
    joined = (
        lattice.join(
            F.broadcast(vs), F.col("s") == F.col("_ms"), "left"
        )
        .join(
            F.broadcast(vsc),
            F.expr("s | bit") == F.col("_msc"),
            "left",
        )
        .select(
            "channel",
            "bit",
            (
                F.col("w_num")
                * (
                    F.coalesce(F.col("_vsc"), F.lit(0))
                    - F.coalesce(F.col("_vs"), F.lit(0))
                )
            ).alias("_term"),
        )
    )
    exposed = (
        mt.crossJoin(F.broadcast(lattice.select("channel", "bit").distinct()))
        .where(F.expr("(_m & bit) <> 0"))
        .groupBy("channel")
        .agg(F.sum("_nu").cast("long").alias("n_users_exposed"))
    )
    fact_n = math.factorial(n)
    credits = joined.groupBy("channel").agg(
        F.round(F.sum("_term") / F.lit(fact_n)).cast("long")
        .alias("credit_micro")
    )
    return credits.join(exposed, "channel", "left").select(
        "channel",
        F.coalesce(F.col("n_users_exposed"), F.lit(0))
        .cast("long")
        .alias("n_users_exposed"),
        "credit_micro",
    )


def lead_lag_correlation(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    type_a: str = "click",
    type_b: str = "view",
    max_lag: int = 7,
) -> DataFrame:
    """Lead-lag cross-correlation of two daily event series: Pearson r
    of (a(d), b(d + lag)) for every lag in [-max_lag, +max_lag] — the
    "does A lead B" discovery panel extending qa70's single-series ACF.
    Both series live on the FULL calendar spine between the global min
    and max day (gap days are true zeros), so every lag compares the
    same aligned window of D - |lag| days.

    Exactness: all five moment sums are int64 over the bounded spine;
    per lag ONE fixed-order double expression (each factor cast
    double individually before the product/sqrt — qb19 discipline)
    rounded to r_milli; `is_best` flags the ROUNDED maximum (ties ->
    the smaller lag).

    Output per lag: (lag, n_days, r_milli, is_best).
    """
    day_us = 86_400_000_000
    daily = (
        df.where(F.col(type_col).isin(type_a, type_b))
        .select(
            F.col(type_col).alias("_t"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_d"),
        )
        .groupBy("_t", "_d")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    spark = df.sparkSession
    bounds = daily.agg(
        F.min("_d").alias("_lo"), F.max("_d").alias("_hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_d")
    )

    def series(t: str, name: str) -> DataFrame:
        return spine.join(
            daily.where(F.col("_t") == t).select("_d", "_y"), "_d", "left"
        ).select(
            "_d", F.coalesce(F.col("_y"), F.lit(0)).cast("long").alias(name)
        )

    a = series(type_a, "_xa")
    b = series(type_b, "_xb")
    lags = spark.range(-int(max_lag), int(max_lag) + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b.select(F.col("_d").alias("_db"), "_xb"),
            F.col("_db") == F.col("_d") + F.col("lag"),
        )
        .select("lag", "_xa", "_xb")
    )
    mom = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("_xa").cast("long").alias("_sx"),
        F.sum("_xb").cast("long").alias("_sy"),
        F.sum(F.col("_xa") * F.col("_xa")).cast("long").alias("_sxx"),
        F.sum(F.col("_xb") * F.col("_xb")).cast("long").alias("_syy"),
        F.sum(F.col("_xa") * F.col("_xb")).cast("long").alias("_sxy"),
    )
    n = F.col("n_days")
    cov_n = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx_n = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy_n = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    r_milli = F.when(
        (vx_n > 0) & (vy_n > 0),
        F.round(cov_n * F.lit(1000.0) / (F.sqrt(vx_n) * F.sqrt(vy_n)))
        .cast("long"),
    )
    scored = mom.select("lag", "n_days", r_milli.alias("r_milli"))
    wbest = Window.orderBy(
        F.col("r_milli").desc_nulls_last(), F.col("lag").asc()
    )
    return scored.select(
        "lag",
        "n_days",
        "r_milli",
        (F.row_number().over(wbest) == 1).cast("long").alias("is_best"),
    ).orderBy("lag")


def growth_accounting(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly growth accounting: every active user-week is classified
    NEW (first ever week), RETAINED (also active the prior week) or
    RESURRECTED (seen before, but not last week); CHURNED counts users
    active in week w-1 with no activity in w — the standard growth
    decomposition whose quick ratio (new+resurrected)/churned is the
    one-number health check.

    One distinct (user, week) table, per-user lag/lead windows, pure
    integer counts; churn for week w is attributed from each user-week
    whose NEXT activity week is > w+1 (or absent), clipped to the
    observed calendar.  Conservation (active_w = new + retained +
    resurrected; active_{w-1} = retained_w + churned_w) is pinned by
    the unit test.

    Output per week: (week, n_active, n_new, n_retained,
    n_resurrected, n_churned, quick_ratio_milli).
    """
    week_us = 7 * 86_400_000_000
    uw = (
        df.select(
            F.col(user_col).alias("_u"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {week_us}"
            ).alias("_w"),
        )
        .distinct()
    )
    wlag = Window.partitionBy("_u").orderBy("_w")
    marked = uw.select(
        "_u",
        "_w",
        F.lag("_w").over(wlag).alias("_prev"),
        F.lead("_w").over(wlag).alias("_next"),
        F.min("_w").over(Window.partitionBy("_u")).alias("_first"),
    )
    classes = marked.groupBy("_w").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum((F.col("_w") == F.col("_first")).cast("long"))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("_prev") == F.col("_w") - 1, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                (F.col("_w") != F.col("_first"))
                & (
                    F.col("_prev").isNull()
                    | (F.col("_prev") < F.col("_w") - 1)
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    hi = uw.agg(F.max("_w").alias("_hi"))
    churn = (
        marked.crossJoin(F.broadcast(hi))
        .where(
            (F.col("_w") + 1 <= F.col("_hi"))
            & (F.col("_next").isNull() | (F.col("_next") > F.col("_w") + 1))
        )
        .groupBy((F.col("_w") + 1).alias("_w"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    out = classes.join(churn, "_w", "left").select(
        F.date_format(
            F.date_add(
                F.lit("1970-01-01"), (F.col("_w") * 7).cast("int")
            ),
            "yyyy-MM-dd",
        ).alias("week"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0))
        .cast("long")
        .alias("n_churned"),
    )
    return out.withColumn(
        "quick_ratio_milli",
        F.when(
            F.col("n_churned") > 0,
            F.round(
                (F.col("n_new") + F.col("n_resurrected"))
                * F.lit(1000)
                / F.col("n_churned")
            ).cast("long"),
        ),
    ).orderBy("week")


def mann_kendall(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    z_milli_threshold: int = 1960,
) -> DataFrame:
    """Mann-Kendall nonparametric trend test per group on the daily
    volume series: S = sum of sign(y_j - y_i) over day pairs, with
    the tie-corrected variance Var(S) = [n(n-1)(2n+5) -
    sum_t t(t-1)(2t+5)] / 18 and the continuity-corrected z — the
    distribution-free "is there ANY monotone trend" answer that pairs
    with qb67's Theil-Sen slope (MK decides IF, Theil-Sen says HOW
    STEEP).

    The pairwise sum runs over the calendar-bounded day spine (the
    qb67 allowance); S, the tie table and the 18-scaled variance
    numerator stay int64; z is one fixed-order double
    ((S -+ 1) / sqrt(varnum/18)) rounded to milli, and the trend flag
    compares the ROUNDED z to an integer threshold (qb54
    discipline).

    Output per group: (group, n_days, s_stat, var_num_x18, z_milli,
    trend_flag) with flag sign = trend direction (+1/-1/0).
    """
    day_us = 86_400_000_000
    daily = (
        df.select(
            F.col(group_col).alias("_g"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_day"),
        )
        .groupBy("_g", "_day")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    a = daily.select(
        "_g", F.col("_day").alias("_di"), F.col("_y").alias("_yi")
    )
    b = daily.select(
        F.col("_g").alias("_gb"),
        F.col("_day").alias("_dj"),
        F.col("_y").alias("_yj"),
    )
    s_tab = (
        a.join(b, (a["_g"] == b["_gb"]) & (F.col("_di") < F.col("_dj")))
        .groupBy("_g")
        .agg(
            F.sum(
                F.signum((F.col("_yj") - F.col("_yi")).cast("double"))
                .cast("long")
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nd = daily.groupBy("_g").agg(
        F.count("*").cast("long").alias("n_days")
    )
    ties = (
        daily.groupBy("_g", "_y")
        .agg(F.count("*").cast("long").alias("_t"))
        .groupBy("_g")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            )
            .cast("long")
            .alias("_tiecorr")
        )
    )
    j = nd.join(s_tab, "_g").join(ties, "_g")
    n = F.col("n_days")
    varnum = (
        n * (n - 1) * (2 * n + 5) - F.col("_tiecorr")
    ).cast("long")
    zraw = F.when(
        (varnum > 0) & (F.col("s_stat") > 0),
        (F.col("s_stat") - 1).cast("double")
        / F.sqrt(varnum.cast("double") / F.lit(18.0)),
    ).when(
        (varnum > 0) & (F.col("s_stat") < 0),
        (F.col("s_stat") + 1).cast("double")
        / F.sqrt(varnum.cast("double") / F.lit(18.0)),
    ).when(varnum > 0, F.lit(0.0))
    z_milli = F.round(zraw * F.lit(1000.0)).cast("long")
    return j.select(
        F.col("_g").alias(group_col),
        "n_days",
        "s_stat",
        varnum.alias("var_num_x18"),
        z_milli.alias("z_milli"),
        F.when(
            z_milli > int(z_milli_threshold), F.lit(1)
        )
        .when(z_milli < -int(z_milli_threshold), F.lit(-1))
        .when(z_milli.isNotNull(), F.lit(0))
        .cast("long")
        .alias("trend_flag"),
    )


def ljung_box(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_lag: int = 3,
    q_milli_threshold: int = 7815,
) -> DataFrame:
    """Ljung-Box portmanteau whiteness test per type: Q = n(n+2)
    sum_k r_k^2/(n-k) over qa70's autocorrelations — "is there ANY
    serial structure left", the one-number gate on residual/daily
    series before trusting i.i.d.-assuming monitors (qb63's z-scores,
    qb22's power math).

    Builds directly on acf_daily's micro r_k; each r_k^2 div (n-k)
    term is a truncating int64 division (DuckDB // parity), the term
    sum is exact, and Q lands via one terminal double division by
    1e9.  Null whenever any of the K lags is undefined.  Flag on the
    ROUNDED Q against the chi-square(K) 95% critical value
    (default 7.815 for K=3, Python-injected).

    Output per type: (type, n_days, q_milli, signif_flag).
    """
    acf = acf_daily(df, type_col, ts_col, max_lag)
    terms = None
    for k in range(1, int(max_lag) + 1):
        r = F.col(f"acf{k}_micro")
        t = F.expr(
            f"(acf{k}_micro * acf{k}_micro) div (n_days - {k})"
        )
        terms = t if terms is None else terms + t
    all_defined = None
    for k in range(1, int(max_lag) + 1):
        c = F.col(f"acf{k}_micro").isNotNull()
        all_defined = c if all_defined is None else (all_defined & c)
    q = F.when(
        all_defined & (F.col("n_days") > int(max_lag)),
        F.round(
            (F.col("n_days") * (F.col("n_days") + 2) * terms)
            .cast("double")
            / F.lit(1e9)
        ).cast("long"),
    )
    return acf.select(
        F.col(type_col),
        "n_days",
        q.alias("q_milli"),
        F.when(
            q.isNotNull(), (q > int(q_milli_threshold)).cast("long")
        ).alias("signif_flag"),
    )


def runs_test_daily(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    z_milli_threshold: int = 1960,
) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily up/down moves per type:
    too FEW runs = momentum/trending, too MANY = oscillation — the
    randomness check that complements qb87's monotone-trend MK test
    (MK misses a zig-zag; runs catches it).

    Day-over-day move signs from one lag window (ties dropped,
    documented); runs counted as sign changes + 1; E[R] = 1 +
    2*n1*n2/n and Var from the closed form, both entering ONE
    fixed-order double z rounded to milli; flag on the ROUNDED |z|.

    Output per type: (type, n_moves, n_up, n_down, n_runs, z_milli,
    signif_flag).
    """
    day_us = 86_400_000_000
    daily = (
        df.select(
            F.col(type_col).alias("_t"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_d"),
        )
        .groupBy("_t", "_d")
        .agg(F.count("*").cast("long").alias("_y"))
    )
    w = Window.partitionBy("_t").orderBy("_d")
    moves = daily.select(
        "_t",
        "_d",
        (F.col("_y") - F.lag("_y").over(w)).alias("_diff"),
    ).where(F.col("_diff").isNotNull() & (F.col("_diff") != 0))
    signed = moves.select(
        "_t",
        "_d",
        (F.col("_diff") > 0).cast("long").alias("_s"),
    )
    ws = Window.partitionBy("_t").orderBy("_d")
    runs = signed.select(
        "_t",
        "_s",
        F.when(
            F.lag("_s").over(ws).isNull()
            | (F.lag("_s").over(ws) != F.col("_s")),
            1,
        )
        .otherwise(0)
        .alias("_new_run"),
    )
    agg = runs.groupBy("_t").agg(
        F.count("*").cast("long").alias("n_moves"),
        F.sum("_s").cast("long").alias("n_up"),
        F.sum(1 - F.col("_s")).cast("long").alias("n_down"),
        F.sum("_new_run").cast("long").alias("n_runs"),
    )
    n = F.col("n_moves").cast("double")
    p2 = (F.lit(2.0) * F.col("n_up") * F.col("n_down")).cast("double")
    er = F.lit(1.0) + p2 / n
    varr = p2 * (p2 - n) / (n * n * (n - F.lit(1.0)))
    z = F.when(
        (F.col("n_up") > 0) & (F.col("n_down") > 0) & (varr > 0),
        F.round(
            (F.col("n_runs").cast("double") - er)
            / F.sqrt(varr)
            * F.lit(1000.0)
        ).cast("long"),
    )
    return agg.select(
        F.col("_t").alias(type_col),
        "n_moves",
        "n_up",
        "n_down",
        "n_runs",
        z.alias("z_milli"),
        F.when(
            z.isNotNull(), (F.abs(z) > int(z_milli_threshold)).cast("long")
        ).alias("signif_flag"),
    )


def daily_value_bands(
    df: DataFrame,
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Daily P10/P50/P90 bands of the event value — the ops dashboard
    ribbon (is today's distribution drifting, not just its mean):
    exact type-1 quantiles per day via per-day cents HISTOGRAM
    cumulative counts (q54/qb43 idiom partitioned BY DAY — never a
    row-level global sort), pure integer rank arithmetic
    (100*cum >= p*n avoids any division).

    Output per day: (day, n_events, p10_cents, p50_cents, p90_cents).
    """
    day_us = 86_400_000_000
    base = df.select(
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
        ).alias("_d"),
        F.round(F.col(val_col) * 100).cast("long").alias("_v"),
    )
    hist = base.groupBy("_d", "_v").agg(
        F.count("*").cast("long").alias("_c")
    )
    wcum = (
        Window.partitionBy("_d")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("_d")
    staged = hist.select(
        "_d",
        "_v",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wall).alias("_n"),
    )
    def _q(p: int):
        return F.min(
            F.when(F.col("_cum") * 100 >= F.lit(p) * F.col("_n"), F.col("_v"))
        ).cast("long")

    out = staged.groupBy("_d").agg(
        F.max("_n").cast("long").alias("n_events"),
        _q(10).alias("p10_cents"),
        _q(50).alias("p50_cents"),
        _q(90).alias("p90_cents"),
    )
    return out.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01"), F.col("_d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n_events",
        "p10_cents",
        "p50_cents",
        "p90_cents",
    ).orderBy("day")


def position_based_attribution(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    val_col: str = "value",
    id_col: str = "event_id",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view", "signup"),
    horizon_hours: int = 24,
    first_micro: int = 400_000,
    last_micro: int = 400_000,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: the FIRST
    touch of a journey gets first_micro credit, the LAST gets
    last_micro, and the remaining 1e6−first−last is split evenly over
    the middle touches — the introducer-and-closer model completing
    the family (last-touch qb40 / linear qb42 / time-decay qb77 /
    Shapley qb76 / Markov removal markov_removal_attribution).

    Same journey machinery as linear_attribution (reversed carry
    window binds each touch to its nearest following in-horizon
    conversion; two shuffles on user, no range join).  Integer
    conservation: n=1 → 1e6; n=2 → the middle pot is impossible so
    first + (1e6−first); n≥3 → middle share = mid_pot div (n−2) with
    the division remainder added to the LAST touch (qb77's
    remainder-to-most-recent convention), so every conversion's
    credit sums to exactly 1e6.

    Output: (touch_type, n_touches, credit_micro, value_micro_cents).
    """
    mid_pot = MICRO - int(first_micro) - int(last_micro)
    base = df.select(
        F.col(user_col).alias("_u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(type_col).alias("_t"),
        F.round(F.col(val_col) * 100).cast("long").alias("_cents"),
    )
    w_desc = Window.partitionBy("_u").orderBy(
        F.col("_us").desc(), F.col("_id").desc()
    )
    conv_struct = F.when(
        F.col("_t") == conversion_type,
        F.struct(
            F.col("_us").alias("us"),
            F.col("_id").alias("id"),
            F.col("_cents").alias("cents"),
        ),
    )
    horizon_us = int(horizon_hours) * 3_600 * MICRO
    touches = base.withColumn(
        "_conv", F.last(conv_struct, ignorenulls=True).over(w_desc)
    ).where(
        F.col("_t").isin(*touch_types)
        & F.col("_conv").isNotNull()
        & (F.col("_conv.us") - F.col("_us") <= F.lit(horizon_us))
    )
    wj = Window.partitionBy("_u", "_conv.us", "_conv.id")
    wj_rank = wj.orderBy(F.col("_us").asc(), F.col("_id").asc())
    sized = touches.select(
        "_t",
        F.col("_conv.cents").alias("_ccents"),
        F.count("*").over(wj).alias("_n"),
        F.row_number().over(wj_rank).alias("_pos"),
    )
    mid_share = F.expr(f"CAST({mid_pot} AS BIGINT) div (_n - 2)")
    credit = (
        F.when(F.col("_n") == 1, F.lit(MICRO))
        .when(
            F.col("_n") == 2,
            F.when(F.col("_pos") == 1, F.lit(int(first_micro))).otherwise(
                F.lit(MICRO - int(first_micro))
            ),
        )
        .when(F.col("_pos") == 1, F.lit(int(first_micro)))
        .when(
            F.col("_pos") == F.col("_n"),
            F.lit(int(last_micro))
            + (F.lit(mid_pot) - mid_share * (F.col("_n") - 2)),
        )
        .otherwise(mid_share)
    )
    credited = sized.select(
        F.col("_t").alias("touch_type"),
        credit.cast("long").alias("_credit"),
        (F.col("_ccents") * credit).cast("long").alias("_vmicro"),
    )
    journeys = touches.select(
        F.col("_u").alias("_ju"),
        F.col("_conv.us").alias("_jus"),
        F.col("_conv.id").alias("_jid"),
    ).distinct()
    none_rows = (
        base.where(F.col("_t") == conversion_type)
        .join(
            journeys,
            (F.col("_u") == F.col("_ju"))
            & (F.col("_us") == F.col("_jus"))
            & (F.col("_id") == F.col("_jid")),
            "left_anti",
        )
        .select(
            F.lit("none").alias("touch_type"),
            F.lit(MICRO).cast("long").alias("_credit"),
            (F.col("_cents") * F.lit(MICRO)).cast("long").alias("_vmicro"),
        )
    )
    return (
        credited.unionByName(none_rows)
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("_credit").cast("long").alias("credit_micro"),
            F.sum("_vmicro").cast("long").alias("value_micro_cents"),
        )
    )


def markov_removal_attribution(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    channels: tuple[str, ...] = ("click", "view", "signup"),
    conversion_type: str = "purchase",
    k: int = 4,
) -> DataFrame:
    """Data-driven Markov removal-effect attribution — the
    chain-structure alternative to Shapley (qb76 values exposure
    SETS; this values the TRANSITION structure): build the
    first-order channel chain start → touches → {conv, drop}, then
    credit each channel by how much the k-step conversion probability
    from start falls when every transition touching that channel is
    deleted (removal effect RE_c = 1 − P_c/P_base; credits normalize
    RE over channels).

    Journey semantics: per user, touches strictly BEFORE the first
    conversion (all touches when the user never converts); the last
    touch absorbs into 'conv' or 'drop'; users with no touches
    contribute start→conv/drop directly, so P_base is the true
    start-state conversion rate.  Transition cells are per-cell
    micro-rounded divisions (qb95 discipline); the k-step absorption
    M_k = R + Q·M_{k-1} is unrolled k−1 times in pure int64 with ONE
    truncating div 1e6 per round (DuckDB // bit-parity); removal
    variants share the BASE matrix (no renormalization — deleted mass
    is failure), so P_removed ≤ P_base by construction.  Everything
    after the one counting shuffle is dictionary-sized
    (states × variants ≤ (|channels|+1)²).

    Output per channel: (channel, p_base_micro, p_removed_micro,
    removal_effect_micro, credit_micro).
    """
    chans = list(channels)
    spark = df.sparkSession
    fp = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(
            F.when(F.col(type_col) == conversion_type, F.col(ts_col))
        ).alias("_fpts")
    )
    base = df.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(type_col).alias("_ty"),
    )
    tch = (
        base.where(F.col("_ty").isin(*chans))
        .join(fp, "_u")
        .where(F.col("_fpts").isNull() | (F.col("_ts") < F.col("_fpts")))
    )
    w = Window.partitionBy("_u").orderBy("_ts", "_id")
    seq = tch.select(
        "_u",
        "_ty",
        "_fpts",
        F.lag("_ty").over(w).alias("_prev"),
        F.lead("_ty").over(w).alias("_nxt"),
    )
    absorb = F.when(F.col("_fpts").isNotNull(), F.lit("conv")).otherwise(
        F.lit("drop")
    )
    tr = (
        seq.select(
            F.coalesce(F.col("_prev"), F.lit("start")).alias("_f"),
            F.col("_ty").alias("_tt"),
        )
        .unionByName(
            seq.where(F.col("_nxt").isNull()).select(
                F.col("_ty").alias("_f"), absorb.alias("_tt")
            )
        )
        .unionByName(
            fp.join(tch.select("_u").distinct(), "_u", "left_anti").select(
                F.lit("start").alias("_f"), absorb.alias("_tt")
            )
        )
    )
    cnt = tr.groupBy("_f", "_tt").agg(F.count("*").cast("long").alias("_n"))
    wrow = Window.partitionBy("_f")
    pm = cnt.select(
        "_f",
        "_tt",
        F.round(
            F.col("_n") * F.lit(MICRO) / F.sum("_n").over(wrow)
        )
        .cast("long")
        .alias("_p"),
    )
    variants = spark.createDataFrame(
        [(v,) for v in ["none"] + chans], "v string"
    )
    vp = pm.crossJoin(F.broadcast(variants)).where(
        ~((F.col("_f") == F.col("v")) | (F.col("_tt") == F.col("v")))
    )
    q = vp.where(F.col("_tt").isin(*chans)).select(
        "v",
        F.col("_f").alias("_qf"),
        F.col("_tt").alias("_qt"),
        F.col("_p").alias("_q"),
    )
    r = vp.where(F.col("_tt") == "conv").select(
        "v", "_f", F.col("_p").alias("_r")
    )
    grid = spark.createDataFrame(
        [(v, s) for v in ["none"] + chans for s in ["start"] + chans],
        "v string, _f string",
    )
    m = grid.join(r, ["v", "_f"], "left").select(
        "v", "_f", F.coalesce(F.col("_r"), F.lit(0)).cast("long").alias("_m")
    )
    for _ in range(int(k) - 1):
        stepped = (
            q.join(
                m.select(
                    "v",
                    F.col("_f").alias("_qt"),
                    F.col("_m").alias("_mprev"),
                ),
                ["v", "_qt"],
            )
            .groupBy("v", F.col("_qf").alias("_f"))
            .agg(
                F.sum(F.col("_q") * F.col("_mprev"))
                .cast("long")
                .alias("_acc")
            )
            .select(
                "v", "_f", F.expr("_acc div 1000000").cast("long").alias("_qm")
            )
        )
        m = (
            grid.join(r, ["v", "_f"], "left")
            .join(stepped, ["v", "_f"], "left")
            .select(
                "v",
                "_f",
                (
                    F.coalesce(F.col("_r"), F.lit(0))
                    + F.coalesce(F.col("_qm"), F.lit(0))
                )
                .cast("long")
                .alias("_m"),
            )
        )
    ms = m.where(F.col("_f") == "start").select("v", "_m")
    pb = ms.where(F.col("v") == "none").select(
        F.col("_m").alias("p_base_micro")
    )
    out = (
        ms.where(F.col("v") != "none")
        .select(F.col("v").alias("channel"), F.col("_m").alias("p_removed_micro"))
        .crossJoin(F.broadcast(pb))
        .select(
            "channel",
            "p_base_micro",
            "p_removed_micro",
            F.when(
                F.col("p_base_micro") > 0,
                F.round(
                    (
                        (F.col("p_base_micro") - F.col("p_removed_micro"))
                        * F.lit(MICRO)
                    ).cast("double")
                    / F.col("p_base_micro")
                ).cast("long"),
            ).alias("removal_effect_micro"),
        )
    )
    sre = out.groupBy().agg(
        F.sum("removal_effect_micro").cast("long").alias("_sre")
    )
    return out.crossJoin(F.broadcast(sre)).select(
        "channel",
        "p_base_micro",
        "p_removed_micro",
        "removal_effect_micro",
        F.when(
            F.col("_sre") > 0,
            F.round(
                (F.col("removal_effect_micro") * F.lit(MICRO)).cast("double")
                / F.col("_sre")
            ).cast("long"),
        ).alias("credit_micro"),
    )


def activity_streaks(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-active-day streak per user — the retention
    shape stickiness_daily's ratios (qb78) can't see: two users with
    the same 10 active days differ enormously if one did them in a
    row.  Classic gaps-and-islands: within a user's DISTINCT active
    days, day − row_number(day) is constant exactly on consecutive
    runs (one partitioned window, integer arithmetic), so streaks are
    one groupBy away.

    Output per user: (user, n_active_days, n_streaks,
    longest_streak, latest_day_epoch).
    """
    days = df.select(
        F.col(user_col).alias("_u"),
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 86400000000"
        ).alias("_d"),
    ).distinct()
    w = Window.partitionBy("_u").orderBy("_d")
    isl = days.select(
        "_u", "_d", (F.col("_d") - F.row_number().over(w)).alias("_grp")
    )
    streaks = isl.groupBy("_u", "_grp").agg(
        F.count("*").cast("long").alias("_len")
    )
    per_day = days.groupBy("_u").agg(
        F.count("*").cast("long").alias("n_active_days"),
        F.max("_d").cast("long").alias("latest_day_epoch"),
    )
    per_streak = streaks.groupBy("_u").agg(
        F.count("*").cast("long").alias("n_streaks"),
        F.max("_len").cast("long").alias("longest_streak"),
    )
    return per_day.join(per_streak, "_u").select(
        F.col("_u").alias(user_col),
        "n_active_days",
        "n_streaks",
        "longest_streak",
        "latest_day_epoch",
    )


def max_drawdown_daily(
    df: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Maximum drawdown of each entity's cumulative daily cents series
    — "what's the worst peak-to-trough slide this metric has taken",
    the risk number next to ltv_curve's growth view (qb62): a series
    that ends high but cratered mid-way is not the same asset as a
    steady climber.

    Daily cents sums (exact int64) → running cumulative → running max
    → drawdown = runmax − cum, all in ONE partitioned window chain
    per entity; the worst day resolves ties to the EARLIEST day via a
    struct max over (drawdown, −day).  Pure integers end to end.

    Output per entity: (entity, n_days, final_cents, peak_cents,
    max_drawdown_cents, worst_day_epoch).
    """
    day_us = 86_400_000_000
    daily = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_d"),
            F.round(F.col(val_col) * 100).cast("long").alias("_v"),
        )
        .groupBy("_e", "_d")
        .agg(F.sum("_v").cast("long").alias("_dv"))
    )
    w = Window.partitionBy("_e").orderBy("_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "_e",
        "_d",
        F.sum("_dv").over(w).cast("long").alias("_cum"),
    )
    cum = cum.select(
        "_e",
        "_d",
        "_cum",
        F.max("_cum").over(w.orderBy("_d")).cast("long").alias("_peak"),
    )
    dd = cum.select(
        "_e",
        "_d",
        "_cum",
        "_peak",
        (F.col("_peak") - F.col("_cum")).alias("_dd"),
    )
    return dd.groupBy("_e").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max_by("_cum", "_d").cast("long").alias("final_cents"),
        F.max("_peak").cast("long").alias("peak_cents"),
        F.max("_dd").cast("long").alias("max_drawdown_cents"),
        (-F.max(F.struct(F.col("_dd"), (-F.col("_d")).alias("_nd")))["_nd"])
        .cast("long")
        .alias("worst_day_epoch"),
    ).select(
        F.col("_e").alias(entity_col),
        "n_days",
        "final_cents",
        "peak_cents",
        "max_drawdown_cents",
        "worst_day_epoch",
    )


def shift_share(
    df: DataFrame,
    segment_col: str,
    period_flag,
    val_col,
) -> DataFrame:
    """Shift-share decomposition of a mean-metric change between two
    periods: ΔM = Σ(w₂−w₁)·r₁  (MIX — the portfolio moved toward
    different segments) + Σw₁·(r₂−r₁)  (RATE — segments themselves
    changed) + ΣΔw·Δr  (interaction) — the "did the average fall
    because quality fell or because the mix shifted" question
    growth_accounting (qb81) answers for counts, answered for rates.

    Per segment and period: exact int64 (count, value-sum) pairs;
    w (share) is micro-rounded once, r (mean) milli-rounded once, and
    each decomposition term is ONE fixed scalar DAG milli-rounded per
    segment, then INTEGER-summed — the identity reconciles with the
    directly-computed ΔM to rounding (both reported).

    Output per segment: (segment, n1, n2, w1_micro, w2_micro,
    r1_milli, r2_milli, mix_milli, rate_milli, inter_milli) plus
    broadcast-attached (mix_total_milli, rate_total_milli,
    inter_total_milli, delta_actual_milli).
    """
    flag = (
        period_flag
        if not isinstance(period_flag, str)
        else F.col(period_flag)
    ).cast("boolean").cast("long")
    v = (
        val_col if not isinstance(val_col, str) else F.col(val_col)
    ).cast("long")
    base = df.select(
        F.col(segment_col).alias("_s"), flag.alias("_p"), v.alias("_v")
    )
    per = base.groupBy("_s").agg(
        F.sum(1 - F.col("_p")).cast("long").alias("n1"),
        F.sum(F.col("_p")).cast("long").alias("n2"),
        F.sum(F.when(F.col("_p") == 0, F.col("_v")).otherwise(0))
        .cast("long")
        .alias("_v1"),
        F.sum(F.when(F.col("_p") == 1, F.col("_v")).otherwise(0))
        .cast("long")
        .alias("_v2"),
    )
    tot = base.groupBy().agg(
        F.sum(1 - F.col("_p")).cast("long").alias("_N1"),
        F.sum(F.col("_p")).cast("long").alias("_N2"),
        F.sum(F.when(F.col("_p") == 0, F.col("_v")).otherwise(0))
        .cast("long")
        .alias("_S1"),
        F.sum(F.when(F.col("_p") == 1, F.col("_v")).otherwise(0))
        .cast("long")
        .alias("_S2"),
    )
    j = per.crossJoin(F.broadcast(tot)).where(
        (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    w1 = F.round(F.col("n1") * F.lit(MICRO) / F.col("_N1")).cast("long")
    w2 = F.round(F.col("n2") * F.lit(MICRO) / F.col("_N2")).cast("long")
    r1 = F.round(F.col("_v1") * F.lit(1000) / F.col("n1")).cast("long")
    r2 = F.round(F.col("_v2") * F.lit(1000) / F.col("n2")).cast("long")
    staged = j.select(
        "_s", "n1", "n2",
        w1.alias("w1_micro"), w2.alias("w2_micro"),
        r1.alias("r1_milli"), r2.alias("r2_milli"),
    )
    terms = staged.select(
        "*",
        F.round(
            (F.col("w2_micro") - F.col("w1_micro")).cast("double")
            * F.col("r1_milli")
            / F.lit(MICRO)
        )
        .cast("long")
        .alias("mix_milli"),
        F.round(
            F.col("w1_micro").cast("double")
            * (F.col("r2_milli") - F.col("r1_milli"))
            / F.lit(MICRO)
        )
        .cast("long")
        .alias("rate_milli"),
        F.round(
            (F.col("w2_micro") - F.col("w1_micro")).cast("double")
            * (F.col("r2_milli") - F.col("r1_milli"))
            / F.lit(MICRO)
        )
        .cast("long")
        .alias("inter_milli"),
    )
    g = terms.groupBy().agg(
        F.sum("mix_milli").cast("long").alias("mix_total_milli"),
        F.sum("rate_milli").cast("long").alias("rate_total_milli"),
        F.sum("inter_milli").cast("long").alias("inter_total_milli"),
    )
    actual = tot.select(
        F.round(
            F.col("_S2").cast("double") * 1000 / F.col("_N2")
            - F.col("_S1").cast("double") * 1000 / F.col("_N1")
        )
        .cast("long")
        .alias("delta_actual_milli")
    )
    return terms.select(
        F.col("_s").alias(segment_col),
        "n1", "n2", "w1_micro", "w2_micro", "r1_milli", "r2_milli",
        "mix_milli", "rate_milli", "inter_milli",
    ).crossJoin(F.broadcast(g)).crossJoin(F.broadcast(actual))


def quintile_migration(
    df: DataFrame,
    user_col: str,
    period_flag,
    val_col,
    n_tiles: int = 5,
) -> DataFrame:
    """Spend-quintile migration matrix between two periods — the
    mobility view a pair of marginal distributions can't give: the
    same two histograms are consistent with "everyone stayed put" and
    "everyone swapped".  Users active in BOTH periods are bucketed by
    PERIOD-SPECIFIC value cuts (exact type-1 quantiles from each
    period's per-user spend histogram, the qc00 integer-rank idiom),
    so the matrix is about RELATIVE position, immune to overall
    growth.

    Bucket assignment is 1 + Σ[v > cut_p] on the shared integer cut
    values — deterministic under ties in both engines.  Output one
    row per (tile_from, tile_to): n and the row share (one micro
    division), plus broadcast-attached (n_users, stay_share_micro =
    trace mass).
    """
    flag = (
        period_flag
        if not isinstance(period_flag, str)
        else F.col(period_flag)
    ).cast("boolean").cast("long")
    v = (
        val_col if not isinstance(val_col, str) else F.col(val_col)
    ).cast("long")
    nt = int(n_tiles)
    per_user = (
        df.select(
            F.col(user_col).alias("_u"), flag.alias("_p"), v.alias("_v")
        )
        .groupBy("_u", "_p")
        .agg(F.sum("_v").cast("long").alias("_spend"))
    )
    hist = per_user.groupBy("_p", "_spend").agg(
        F.count("*").cast("long").alias("_c")
    )
    wp = Window.partitionBy("_p").orderBy("_spend")
    staged = hist.select(
        "_p",
        "_spend",
        F.sum("_c").over(wp).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("_p")).alias("_n"),
    )
    cuts = staged.groupBy("_p").agg(
        *[
            F.min(
                F.when(
                    nt * F.col("_cum") >= (i + 1) * F.col("_n"),
                    F.col("_spend"),
                )
            )
            .cast("long")
            .alias(f"_cut{i}")
            for i in range(nt - 1)
        ]
    )
    tile = None
    for i in range(nt - 1):
        t = (F.col("_spend") > F.col(f"_cut{i}")).cast("long")
        tile = t if tile is None else tile + t
    tiled = per_user.join(F.broadcast(cuts), "_p").select(
        "_u", "_p", (F.lit(1) + tile).cast("long").alias("_tile")
    )
    a = tiled.where(F.col("_p") == 0).select(
        "_u", F.col("_tile").alias("tile_from")
    )
    b = tiled.where(F.col("_p") == 1).select(
        "_u", F.col("_tile").alias("tile_to")
    )
    pairs = a.join(b, "_u")
    mat = pairs.groupBy("tile_from", "tile_to").agg(
        F.count("*").cast("long").alias("n")
    )
    wrow = Window.partitionBy("tile_from")
    mat = mat.select(
        "tile_from",
        "tile_to",
        "n",
        F.round(F.col("n") * F.lit(MICRO) / F.sum("n").over(wrow))
        .cast("long")
        .alias("row_share_micro"),
    )
    g = pairs.groupBy().agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(
            F.sum(
                F.when(F.col("tile_from") == F.col("tile_to"), 1).otherwise(0)
            )
            * F.lit(MICRO)
            / F.count("*")
        )
        .cast("long")
        .alias("stay_share_micro"),
    )
    return mat.crossJoin(F.broadcast(g))


def record_rate_test(
    df: DataFrame,
    entity_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Record-count stationarity test: under an i.i.d. (stationary)
    daily series the number of running-maximum records in n days has
    mean H_n = Σ1/k and variance H_n − H_n^(2) = Σ1/k − Σ1/k²
    (classical records theory) — far MORE records than H_n means the
    series trends up (every trend test's cheapest cousin: no ranks,
    no regression, just "how often did we set a new high").

    Daily cents sums exact int64; a record day strictly exceeds the
    previous running max (day 1 counts); the harmonic moments come
    from the group's OWN day-index spine with 1/k and 1/k²
    micro-rounded per k then INTEGER-summed, so both engines agree
    bit-exactly; z is one terminal DAG.

    Output per entity: (entity, n_days, n_records, expected_micro,
    var_micro, z_milli).
    """
    day_us = 86_400_000_000
    daily = (
        df.select(
            F.col(entity_col).alias("_e"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div {day_us}"
            ).alias("_d"),
            F.round(F.col(val_col) * 100).cast("long").alias("_v"),
        )
        .groupBy("_e", "_d")
        .agg(F.sum("_v").cast("long").alias("_dv"))
    )
    w = Window.partitionBy("_e").orderBy("_d")
    staged = daily.select(
        "_e",
        "_d",
        "_dv",
        F.row_number().over(w).alias("_i"),
        F.max("_dv").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("_prevmax"),
    )
    per = staged.groupBy("_e").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("_prevmax").isNull()
                | (F.col("_dv") > F.col("_prevmax")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_records"),
        F.sum(F.round(F.lit(1_000_000) / F.col("_i")).cast("long"))
        .cast("long")
        .alias("expected_micro"),
        F.sum(
            F.round(F.lit(1_000_000) / F.col("_i"))
            .cast("long")
            - F.round(
                F.lit(1_000_000) / (F.col("_i") * F.col("_i"))
            ).cast("long")
        )
        .cast("long")
        .alias("var_micro"),
    )
    return per.select(
        F.col("_e").alias(entity_col),
        "n_days",
        "n_records",
        "expected_micro",
        "var_micro",
        F.when(
            F.col("var_micro") > 0,
            F.round(
                (
                    F.col("n_records")
                    - F.col("expected_micro") / F.lit(1_000_000.0)
                )
                / F.sqrt(F.col("var_micro") / F.lit(1_000_000.0))
                * 1000
            ).cast("long"),
        ).alias("z_milli"),
    )


def wald_iv(
    df: DataFrame,
    z_col,
    t_col,
    y_col,
) -> DataFrame:
    """Wald instrumental-variable estimate for an encouragement design
    — the fourth leg of the causal battery next to DiD (qb10, needs a
    control group), CUPED (qa87, needs a pre-metric) and stratified
    ATE (qb31, needs ignorability): when treatment T is self-selected
    but an INSTRUMENT Z shifts it, the local average treatment effect
    is the ratio of two intent-to-treat contrasts:

        LATE = (E[Y|Z=1] − E[Y|Z=0]) / (E[T|Z=1] − E[T|Z=0])

    Exactness: both contrasts cross-multiply to integer numerators
    over the SAME denominator n1·n0, which cancels in the ratio —

        LATE = (Sy1·n0 − Sy0·n1) / (St1·n0 − St0·n1)

    pure int64 until ONE terminal division (numerator cast double
    before its 1e6 scale, the qa91 overflow rule).  int64 bound:
    Σy·n_other — safe to ~10^9 rows × 10^9 total metric; past that,
    per-arm means micro-round first (qb13 discipline).

    Cost: one 2-cell aggregation — a single shuffle of 4 longs/arm.
    Weak-instrument guard: first_stage and late are NULL when the
    compliance contrast is zero (the qb64 rule: never divide by a
    data-dependent zero).

    Output (single row): n_z1, n_z0, t_rate1_micro, t_rate0_micro,
    first_stage_micro, itt_micro, late_micro.
    """
    z = z_col if not isinstance(z_col, str) else F.col(z_col)
    t = t_col if not isinstance(t_col, str) else F.col(t_col)
    y = y_col if not isinstance(y_col, str) else F.col(y_col)
    arms = (
        df.select(
            z.cast("boolean").alias("_z"),
            t.cast("boolean").cast("long").alias("_t"),
            y.cast("long").alias("_y"),
        )
        .groupBy("_z")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_t").cast("long").alias("_st"),
            F.sum("_y").cast("long").alias("_sy"),
        )
    )
    one = arms.groupBy().agg(
        F.max(F.when(F.col("_z"), F.col("_n"))).alias("n_z1"),
        F.max(F.when(~F.col("_z"), F.col("_n"))).alias("n_z0"),
        F.max(F.when(F.col("_z"), F.col("_st"))).alias("_st1"),
        F.max(F.when(~F.col("_z"), F.col("_st"))).alias("_st0"),
        F.max(F.when(F.col("_z"), F.col("_sy"))).alias("_sy1"),
        F.max(F.when(~F.col("_z"), F.col("_sy"))).alias("_sy0"),
    )
    den = F.col("_st1") * F.col("n_z0") - F.col("_st0") * F.col("n_z1")
    num = F.col("_sy1") * F.col("n_z0") - F.col("_sy0") * F.col("n_z1")
    nn = (F.col("n_z1") * F.col("n_z0")).cast("long")
    return one.select(
        "n_z1",
        "n_z0",
        F.round(F.col("_st1") * F.lit(MICRO) / F.col("n_z1"))
        .cast("long")
        .alias("t_rate1_micro"),
        F.round(F.col("_st0") * F.lit(MICRO) / F.col("n_z0"))
        .cast("long")
        .alias("t_rate0_micro"),
        F.when(
            den != 0, F.round(den.cast("double") * MICRO / nn).cast("long")
        ).alias("first_stage_micro"),
        F.round(num.cast("double") * MICRO / nn)
        .cast("long")
        .alias("itt_micro"),
        F.when(
            den != 0, F.round(num.cast("double") * MICRO / den).cast("long")
        ).alias("late_micro"),
    )


def seasonal_indices(
    df: DataFrame,
    ts_col: str,
    value_col,
    half_window: int = 3,
) -> DataFrame:
    """Classical ratio-to-moving-average weekly seasonal indices — the
    decomposition view next to qa64 (how MUCH variance is seasonal)
    and qb72 (is a seasonal-naive forecast beatable): WHICH weekday
    runs hot, as a multiplicative index around 1.

    Per day: total = Σ value (int64 cents); trend = centered
    (2·half_window+1)-day moving average over the DAY-NUMBER range
    frame (partial at the series ends, by definition — both engines
    average whatever days exist in range).  The ratio cross-multiplies
    the MA away:  ratio_µ = round(total·1e6·cnt_w / sum_w) — pure
    int64 (bound: day-total·1e6·window, safe to ~10^6 cents/day·7;
    past that cast double first).  The per-weekday index is the mean
    of its day ratios (integer sum, one division), and the normalized
    index rescales the SUM of the 7 rounded indices to 7e6 — again
    integers only.

    Weekday is session-tz-proof: (epoch_day + 4) % 7, 0 = Monday
    (the qb71 idiom).  Cost: one daily-totals shuffle; every window
    runs on the day spine (bounded, ~10^2-10^4 rows).

    Output per weekday: dow, n_days, index_micro, index_norm_micro.
    """
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    daily = (
        df.select(
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP))"
                " div 86400000000"
            )
            .cast("long")
            .alias("_d"),
            v.cast("long").alias("_v"),
        )
        .groupBy("_d")
        .agg(F.sum("_v").cast("long").alias("_tot"))
    )
    wma = (
        Window.orderBy("_d").rangeBetween(-half_window, half_window)
    )
    ratios = daily.select(
        ((F.col("_d") + 4) % 7).alias("dow"),
        F.sum("_tot").over(wma).cast("long").alias("_ws"),
        F.count("*").over(wma).cast("long").alias("_wc"),
        "_tot",
    ).where(F.col("_ws") > 0)
    ratios = ratios.select(
        "dow",
        F.round(F.col("_tot") * F.lit(MICRO) * F.col("_wc") / F.col("_ws"))
        .cast("long")
        .alias("_r"),
    )
    per = ratios.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.sum("_r") / F.count("*")).cast("long").alias("index_micro"),
    )
    tot = per.agg(F.sum("index_micro").cast("long").alias("_si"))
    return per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        "index_micro",
        F.round(F.col("index_micro") * F.lit(7) * F.lit(MICRO) / F.col("_si"))
        .cast("long")
        .alias("index_norm_micro"),
    )


def littles_law_audit(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """Little's law reconciliation L = lambda * W over the sessionized
    event stream — the queueing-theory sanity gate for capacity
    planning: time-average concurrency (L), arrival rate (lambda) and
    mean session duration (W) must satisfy the identity, and the two
    independent computations of total busy-time must agree EXACTLY:

        sum of session durations  ==  integral of the concurrency
                                      step function over time

    Sessions are the q24 lag-gap cut; each spans [s, e+1) in epoch
    micros (a point session counts 1 us, the qb03 convention).  The
    integral side is the +1/-1 boundary sweep: midnight-clipped
    intervals (sequence-explode, bounded by session length) sweep
    INSIDE day partitions — never a global sort — and each boundary
    row contributes cum * (lead(t) - t), which telescopes exactly to
    the clipped length sum.  identity_diff is an int64 equality
    witness (always 0; a nonzero value means a broken sweep).

    The three reported rates are each ONE IEEE division (cast double
    first — integral * 1e6 overflows int64 at petabyte scale):
    l_timeavg_micro over the observed span, lambda_per_hour_milli,
    w_mean_us (mean duration, rounded micros).

    Output: single row [n_sessions, sum_dur_us, sweep_integral_us,
    identity_diff, span_us, l_timeavg_micro, lambda_per_hour_milli,
    w_mean_us].
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(user_col).alias("_u"), us.alias("_us"))
    wlag = Window.partitionBy("_u").orderBy("_us")
    flagged = base.select(
        "_u",
        "_us",
        F.when(
            F.lag("_us", 1).over(wlag).isNull()
            | (F.col("_us") - F.lag("_us", 1).over(wlag) > gap_s * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    sess = flagged.select(
        "_u",
        "_us",
        F.sum("_new")
        .over(wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_sid"),
    )
    bounds = sess.groupBy("_u", "_sid").agg(
        F.min("_us").alias("_s"), F.max("_us").alias("_e")
    )
    totals = bounds.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("sum_dur_us"),
        (F.max("_e") + 1 - F.min("_s")).cast("long").alias("span_us"),
    )
    day_us = F.lit(86_400_000_000)
    days = bounds.select(
        "_u",
        "_sid",
        F.explode(
            F.sequence(
                F.expr("_s div 86400000000"), F.expr("_e div 86400000000")
            )
        ).alias("_day"),
        "_s",
        "_e",
    ).select(
        "_u",
        "_sid",
        "_day",
        F.greatest(F.col("_s"), F.col("_day") * day_us).alias("_cs"),
        (F.least(F.col("_e"), (F.col("_day") + 1) * day_us - 1) + 1).alias(
            "_ce"
        ),
    )
    marks = days.select(
        "_day", F.col("_cs").alias("_t"), F.lit(1).alias("_delta"), "_u", "_sid"
    ).unionByName(
        days.select(
            "_day",
            F.col("_ce").alias("_t"),
            F.lit(-1).alias("_delta"),
            "_u",
            "_sid",
        )
    )
    wsweep = Window.partitionBy("_day").orderBy(
        F.col("_t"), F.col("_delta").desc(), F.col("_u"), F.col("_sid")
    )
    swept = marks.select(
        "_day",
        "_t",
        F.sum("_delta")
        .over(wsweep.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_cum"),
        F.lead("_t", 1).over(wsweep).alias("_nt"),
    )
    integral = swept.agg(
        F.sum(
            F.when(
                F.col("_nt").isNotNull(),
                F.col("_cum") * (F.col("_nt") - F.col("_t")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("sweep_integral_us")
    )
    out = totals.crossJoin(F.broadcast(integral))
    return out.select(
        "n_sessions",
        "sum_dur_us",
        "sweep_integral_us",
        (F.col("sweep_integral_us") - F.col("sum_dur_us"))
        .cast("long")
        .alias("identity_diff"),
        "span_us",
        F.round(
            F.col("sweep_integral_us").cast("double")
            * 1_000_000
            / F.col("span_us")
        )
        .cast("long")
        .alias("l_timeavg_micro"),
        F.round(
            F.col("n_sessions").cast("double")
            * 3_600_000_000
            * 1000
            / F.col("span_us")
        )
        .cast("long")
        .alias("lambda_per_hour_milli"),
        F.round(
            F.col("sum_dur_us").cast("double") / F.col("n_sessions")
        )
        .cast("long")
        .alias("w_mean_us"),
    )


def trig_micro_tables(periods: tuple[int, ...] = (3, 5, 7, 14)) -> list[tuple]:
    """Integer micro cos/sin tables for the periodogram: rows
    (p, r, cos_micro, sin_micro) with cos_micro = round(cos(2*pi*r/p)
    * 1e6), r = 0..p-1.  Computed ONCE in Python and injected as
    literals into BOTH the Spark plan and the SQL oracle (qa89
    constant-table rule) — no engine evaluates a trig function, so
    cross-engine exactness is by construction."""
    import math

    rows = []
    for p in periods:
        for r in range(p):
            rows.append(
                (
                    p,
                    r,
                    round(math.cos(2 * math.pi * r / p) * 1_000_000),
                    round(math.sin(2 * math.pi * r / p) * 1_000_000),
                )
            )
    return rows


def periodogram(
    series: DataFrame,
    t_col: str,
    x_col: str,
    periods: tuple[int, ...] = (3, 5, 7, 14),
) -> DataFrame:
    """Discrete periodogram of an integer series at a fixed set of
    candidate periods — the seasonality detector (which cycle, if
    any, dominates daily volume?): for each p, the power at frequency
    1/p from the Fourier pair sums over injected integer trig tables.

    Mean removal stays integer by scaling: z_t = n*x_t - S (deviation
    times n), so C_p = sum z_t * cos_micro[t mod p] and the sine twin
    are exact int64 sums.  Squaring would overflow, so the amplitude
    descales in doubles with a FIXED mirrored op order (qb13 rule):
    amp_milli = round(sqrt(Cd^2 + Sd^2) * 2000 / (n_d * n * 1e6))
    — sqrt is IEEE-exact, one terminal round.  is_peak marks the
    maximal amplitude (ties all flagged).

    The series is expected small (one row per time bucket — a day
    spine); every join side here is broadcast, no shuffle beyond the
    caller's bucket agg.

    Output per period: p, c_sum, s_sum, amp_milli, is_peak.
    """
    spark = series.sparkSession
    trig = spark.createDataFrame(
        trig_micro_tables(periods), ["p", "r", "c_micro", "s_micro"]
    )
    base = series.select(
        F.col(t_col).cast("long").alias("_t"),
        F.col(x_col).cast("long").alias("_x"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_s"),
    )
    z = base.crossJoin(F.broadcast(tot)).select(
        "_t",
        (F.col("_n") * F.col("_x") - F.col("_s")).alias("_z"),
        "_n",
    )
    pdf = spark.createDataFrame([(int(p),) for p in periods], ["p"])
    zp = (
        z.crossJoin(F.broadcast(pdf))
        .select("p", F.pmod(F.col("_t"), F.col("p")).alias("r"), "_z", "_n")
        .join(F.broadcast(trig), ["p", "r"])
    )
    agg = zp.groupBy("p").agg(
        F.sum(F.col("_z") * F.col("c_micro")).cast("long").alias("c_sum"),
        F.sum(F.col("_z") * F.col("s_micro")).cast("long").alias("s_sum"),
        F.max("_n").alias("_n"),
    )
    amp = F.round(
        F.sqrt(
            F.col("c_sum").cast("double") * F.col("c_sum")
            + F.col("s_sum").cast("double") * F.col("s_sum")
        )
        * 2000
        / (F.col("_n").cast("double") * F.col("_n") * 1_000_000)
    ).cast("long")
    scored = agg.select(
        F.col("p").cast("long").alias("p"), "c_sum", "s_sum", amp.alias("amp_milli")
    )
    mx = scored.agg(F.max("amp_milli").alias("_mx"))
    return scored.crossJoin(F.broadcast(mx)).select(
        "p",
        "c_sum",
        "s_sum",
        "amp_milli",
        (F.col("amp_milli") == F.col("_mx")).alias("is_peak"),
    )


def newey_west_lrv(
    series: DataFrame,
    t_col: str,
    x_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Newey–West (Bartlett-kernel) long-run variance of an integer
    time series — the honest denominator for A/B tests and trend
    z-scores on AUTOCORRELATED daily metrics: the iid variance
    understates uncertainty by the variance-inflation factor
    lrv/γ₀, which this reports directly.

        lrv = γ₀ + 2·Σ_{l=1..L} (1 − l/(L+1))·γ_l

    With L = 7 the Bartlett weights are eighths, so the whole kernel
    sum stays INTEGER in scaled units: z_t = n·x_t − S (qc65 idiom),
    Γ_l = Σ z_t·z_{t+l}, lrv8 = 8·Γ₀ + 2·Σ(8−l)·Γ_l — all int64;
    vif and the natural-unit lrv are one mirrored division each.
    Lags come from an ordered window over the DENSE day spine
    (gap days enter as exact zero deviations via the sequence
    explode; calendar-bounded, allowlisted class).

    Output per lag (0..L): lag, bartlett_w8 (8×weight), gamma_scaled,
    with n_days, lrv8, vif_micro, lrv_milli repeated (broadcast).
    """
    base = series.select(
        F.col(t_col).cast("long").alias("_t"),
        F.col(x_col).cast("long").alias("_x"),
    )
    ext = base.agg(F.min("_t").alias("_lo"), F.max("_t").alias("_hi"))
    spine = ext.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_t")
    )
    dense = spine.join(base, "_t", "left").select(
        "_t", F.coalesce(F.col("_x"), F.lit(0)).cast("long").alias("_x")
    )
    tot = dense.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
    )
    z = dense.crossJoin(F.broadcast(tot)).select(
        "_t", (F.col("_n") * F.col("_x") - F.col("_sx")).alias("_z"), "_n"
    )
    wlag = Window.orderBy("_t")
    lags = z.select(
        "_t",
        "_z",
        "_n",
        *[
            F.lead("_z", l).over(wlag).alias(f"_z{l}")
            for l in range(0, int(max_lag) + 1)
        ],
    )
    gam = lags.groupBy().agg(
        F.max("_n").alias("n_days"),
        *[
            F.sum(F.col("_z") * F.col(f"_z{l}")).cast("long").alias(f"_g{l}")
            for l in range(0, int(max_lag) + 1)
        ],
    )
    lw = int(max_lag) + 1
    lrv8 = sum(
        (
            F.col("_g0") * lw
            if l == 0
            else 2 * (lw - l) * F.col(f"_g{l}")
        )
        for l in range(0, int(max_lag) + 1)
    )
    summary = gam.select(
        "n_days",
        *[F.col(f"_g{l}") for l in range(0, int(max_lag) + 1)],
        lrv8.cast("long").alias("lrv8"),
    ).select(
        "n_days",
        *[F.col(f"_g{l}") for l in range(0, int(max_lag) + 1)],
        "lrv8",
        F.when(
            F.col("_g0") > 0,
            F.round(
                F.col("lrv8").cast("double") * 1_000_000 / (F.col("_g0") * lw)
            ).cast("long"),
        ).alias("vif_micro"),
        F.round(
            F.col("lrv8").cast("double")
            * 1000
            / (
                F.lit(lw).cast("double")
                * F.col("n_days")
                * F.col("n_days")
                * F.col("n_days")
            )
        )
        .cast("long")
        .alias("lrv_milli"),
    )
    rows = []
    for l in range(0, int(max_lag) + 1):
        rows.append((l, lw if l == 0 else lw - l))
    ldf = series.sparkSession.createDataFrame(rows, ["lag", "bartlett_w8"])
    out = ldf.crossJoin(F.broadcast(summary))
    gamma = F.when(F.col("lag") == 0, F.col("_g0"))
    for l in range(1, int(max_lag) + 1):
        gamma = gamma.when(F.col("lag") == l, F.col(f"_g{l}"))
    return out.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("bartlett_w8").cast("long").alias("bartlett_w8"),
        gamma.cast("long").alias("gamma_scaled"),
        "n_days",
        "lrv8",
        "vif_micro",
        "lrv_milli",
    )


def semi_markov_rates(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Semi-Markov (continuous-time) transition model of the event
    stream — qa13's discrete transition matrix plus the HOLDING TIME
    each state is occupied before the jump, giving transition RATES
    (events/hour) instead of bare probabilities: two states can share
    p_ij yet differ 100× in tempo, which is exactly what capacity and
    staleness models need.

    Per user-ordered consecutive pair (partitioned lag window): a
    transition (from → to) with holding Δt µs charged to `from`.
    Integer exactness: p_micro = round(c_ij·1e6/c_i) and
    rate_per_hour_milli = round(c_ij·3.6e9·1000/S_i) are each ONE
    mirrored division of int64 sums (S_i = Σ holding µs of `from`).

    Output per (from_state, to_state): n, p_micro, mean_hold_ms,
    rate_per_hour_milli.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(
            F.col(state_col).alias("_to"),
            F.lag(F.col(state_col)).over(w).alias("_from"),
            (us - F.unix_micros(F.lag(F.col(ts_col)).over(w).cast("timestamp")))
            .alias("_dt"),
        )
        .where(F.col("_from").isNotNull())
    )
    cells = pairs.groupBy("_from", "_to").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("_dt").cast("long").alias("_sdt"),
    )
    marg = cells.groupBy("_from").agg(
        F.sum("n").cast("long").alias("_ci"),
        F.sum("_sdt").cast("long").alias("_si"),
    )
    return (
        cells.join(marg, "_from")
        .select(
            F.col("_from").alias("from_state"),
            F.col("_to").alias("to_state"),
            "n",
            F.round(F.col("n") * 1_000_000 / F.col("_ci"))
            .cast("long")
            .alias("p_micro"),
            F.round(
                F.col("_si").cast("double") / (F.col("_ci") * 1000)
            )
            .cast("long")
            .alias("mean_hold_ms"),
            F.when(
                F.col("_si") > 0,
                F.round(
                    F.col("n").cast("double")
                    * 3_600_000_000
                    * 1000
                    / F.col("_si")
                ).cast("long"),
            ).alias("rate_per_hour_milli"),
        )
    )


def erlang_blocking(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    max_servers: int = 20,
    target_milli: int = 10,
) -> DataFrame:
    """Erlang-B blocking table from the sessionized event stream —
    the capacity-planning closer for the queueing family (qc60
    Little's law, qb03 peak concurrency, qc86 semi-Markov rates):
    offered load in Erlangs is EXACTLY total busy time over the span
    (a = Σ session duration / span — λ·AHT collapses to that ratio),
    and B(c, a) answers "how many concurrent servers until blocking
    falls below target".

    B comes from the ascending-series identity B_c = p_c / Σ_{k<=c}
    p_k with p_k = a^k/k!, built as a MIRRORED multiplication chain
    (p_k = p_{k-1}·a/k, cumulative alongside) — every intermediate a
    named column in both engines, no pow/gamma, one terminal micro
    round per c.  `recommended` marks the smallest c at or under
    target_milli blocking (broadcast single-row join).

    Output per c = 1..max_servers: c, a_milli, erlang_b_micro,
    recommended.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(user_col).alias("_u"), us.alias("_us"))
    wlag = Window.partitionBy("_u").orderBy("_us")
    flagged = base.select(
        "_u",
        "_us",
        F.when(
            F.lag("_us", 1).over(wlag).isNull()
            | (F.col("_us") - F.lag("_us", 1).over(wlag) > gap_s * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("_new"),
    )
    sess = flagged.select(
        "_u",
        "_us",
        F.sum("_new")
        .over(wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_sid"),
    )
    bounds = sess.groupBy("_u", "_sid").agg(
        F.min("_us").alias("_s"), F.max("_us").alias("_e")
    )
    tot = bounds.agg(
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias("_dur"),
        (F.max("_e") + 1 - F.min("_s")).cast("long").alias("_span"),
    )
    st = tot.select(
        "_dur",
        "_span",
        (F.col("_dur").cast("double") / F.col("_span")).alias("_a"),
        F.lit(1.0).alias("_p0"),
        F.lit(1.0).alias("_c0"),
    )
    for k in range(1, int(max_servers) + 1):
        st = st.withColumn(
            f"_p{k}", F.col(f"_p{k - 1}") * F.col("_a") / k
        ).withColumn(f"_c{k}", F.col(f"_c{k - 1}") + F.col(f"_p{k}"))
    b_cols = [
        F.struct(
            F.lit(k).cast("long").alias("c"),
            F.round(F.col(f"_p{k}") * 1_000_000 / F.col(f"_c{k}"))
            .cast("long")
            .alias("erlang_b_micro"),
        )
        for k in range(1, int(max_servers) + 1)
    ]
    rows = st.select(
        F.round(F.col("_dur") * 1000 / F.col("_span"))
        .cast("long")
        .alias("a_milli"),
        F.explode(F.array(*b_cols)).alias("_r"),
    ).select("a_milli", F.col("_r.c").alias("c"), F.col("_r.erlang_b_micro"))
    rec = rows.where(
        F.col("erlang_b_micro") <= int(target_milli) * 1000
    ).agg(F.min("c").alias("_rec"))
    return rows.crossJoin(F.broadcast(rec)).select(
        "c",
        "a_milli",
        "erlang_b_micro",
        (F.col("c") == F.col("_rec")).alias("recommended"),
    )


def slo_burn_rate(
    df: DataFrame,
    ts_col: str = "ts",
    error_col="is_error",
    slo_bp: int = 1000,
    page_1h_milli: int = 14_400,
    page_6h_milli: int = 6_000,
) -> DataFrame:
    """Multi-window SLO error-budget burn rate per hour — the SRE-
    workbook alerting rule (Beyer et al. 2018 ch.5): page only when
    BOTH the fast window (1h burn ≥ 14.4×) and the slow window (6h
    burn ≥ 6×) exceed, which pages within minutes on a full outage
    yet ignores blips that self-heal.

    Hour-grain counts on the DENSE hour spine (gap hours are exact
    zero rows via sequence-explode; trailing windows are rangeBetween
    over the bounded calendar spine — allowlisted class).  burn =
    window error rate / SLO budget: burn_milli = round(e·1e7/(n·slo_bp))
    with ONE mirrored division; empty windows report NULL burn and
    never page.

    Output per hour: hour_idx, n_1h, err_1h, burn_1h_milli, n_6h,
    err_6h, burn_6h_milli, page.
    """
    err = error_col if not isinstance(error_col, str) else F.col(error_col)
    hours = (
        df.select(
            F.expr(
                f"unix_micros(cast({ts_col} as timestamp)) div 3600000000"
            ).alias("_h"),
            err.cast("int").alias("_e"),
        )
        .groupBy("_h")
        .agg(
            F.count("*").cast("long").alias("_n"),
            F.sum("_e").cast("long").alias("_err"),
        )
    )
    ext = hours.agg(F.min("_h").alias("_lo"), F.max("_h").alias("_hi"))
    spine = ext.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_h")
    )
    dense = spine.join(hours, "_h", "left").select(
        "_h",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("_n"),
        F.coalesce(F.col("_err"), F.lit(0)).cast("long").alias("_err"),
    )
    w6 = Window.orderBy("_h").rangeBetween(-5, 0)
    agg = dense.select(
        "_h",
        "_n",
        "_err",
        F.sum("_n").over(w6).cast("long").alias("_n6"),
        F.sum("_err").over(w6).cast("long").alias("_e6"),
    )
    burn = lambda e, n: F.when(
        n > 0,
        F.round(e * 10_000_000 / (n * F.lit(int(slo_bp)))).cast("long"),
    )
    out = agg.select(
        F.col("_h").alias("hour_idx"),
        F.col("_n").alias("n_1h"),
        F.col("_err").alias("err_1h"),
        burn(F.col("_err"), F.col("_n")).alias("burn_1h_milli"),
        F.col("_n6").alias("n_6h"),
        F.col("_e6").alias("err_6h"),
        burn(F.col("_e6"), F.col("_n6")).alias("burn_6h_milli"),
    )
    return out.select(
        "*",
        (
            F.coalesce(F.col("burn_1h_milli") >= int(page_1h_milli), F.lit(False))
            & F.coalesce(
                F.col("burn_6h_milli") >= int(page_6h_milli), F.lit(False)
            )
        ).alias("page"),
    )


def haar_energy(
    series: DataFrame,
    t_col: str,
    x_col: str,
    levels: int = 3,
) -> DataFrame:
    """Haar wavelet energy decomposition of an integer series — the
    multi-scale complement to the periodogram (qc65): detail energy
    at level l captures variation at the 2^l-bucket scale, so a spike
    in E1 means day-to-day churn while E3 means week-scale swings.

    The series (dense via the caller) truncates to ⌊n/2^L⌋·2^L rows
    (documented, deterministic); each level's detail d = x_even −
    x_odd and smooth s = x_even + x_odd come from a PAIR-INDEX
    groupBy (map-side combine, no window at all); energies are int64
    (decimal38 squares).  Everything unnormalized-integer, tied
    together by the EXACT Parseval witness

        2^L · Σx²  =  Σ_l E_l·2^(L−l)  +  E_smooth

    emitted as parseval_diff = 0 (an int equality, not a tolerance).

    Output per level (1..L, plus level = 0 row for the final
    smooth): level, n_coeffs, energy, energy_scaled, with n_used,
    sum_x2, parseval_diff repeated (broadcast).
    """
    lv = int(levels)
    base = series.select(
        F.col(t_col).cast("long").alias("_t"),
        F.col(x_col).cast("long").alias("_x"),
    )
    ext = base.agg(F.min("_t").alias("_lo"), F.count("*").alias("_cnt"))
    block = 2 ** lv
    usable = base.crossJoin(F.broadcast(ext)).select(
        (F.col("_t") - F.col("_lo")).alias("_i"),
        "_x",
        (F.col("_cnt") - F.pmod(F.col("_cnt"), F.lit(block))).alias("_nu"),
    ).where(F.col("_i") < F.col("_nu"))
    dec = lambda c: c.cast("decimal(38,0)")
    tot = usable.agg(
        F.max("_nu").cast("long").alias("n_used"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x")))
        .cast("decimal(38,0)")
        .alias("_sx2"),
    )
    cur = usable.select("_i", "_x")
    level_rows = []
    for l in range(1, lv + 1):
        paired = cur.groupBy(F.expr("_i div 2").alias("_p")).agg(
            F.sum(
                F.when(F.pmod(F.col("_i"), F.lit(2)) == 0, F.col("_x")).otherwise(
                    -F.col("_x")
                )
            )
            .cast("long")
            .alias("_d"),
            F.sum("_x").cast("long").alias("_s"),
        )
        e = paired.agg(
            F.count("*").cast("long").alias("n_coeffs"),
            F.sum(dec(F.col("_d")) * dec(F.col("_d")))
            .cast("decimal(38,0)")
            .alias("_e"),
        ).select(
            F.lit(l).cast("long").alias("level"),
            "n_coeffs",
            F.col("_e").cast("double").cast("long").alias("energy"),
            (F.col("_e") * F.lit(2 ** (lv - l)).cast("decimal(38,0)"))
            .cast("double")
            .cast("long")
            .alias("energy_scaled"),
        )
        level_rows.append(e)
        cur = paired.select(F.col("_p").alias("_i"), F.col("_s").alias("_x"))
    smooth = cur.agg(
        F.count("*").cast("long").alias("n_coeffs"),
        F.sum(dec(F.col("_x")) * dec(F.col("_x")))
        .cast("decimal(38,0)")
        .alias("_e"),
    ).select(
        F.lit(0).cast("long").alias("level"),
        "n_coeffs",
        F.col("_e").cast("double").cast("long").alias("energy"),
        F.col("_e").cast("double").cast("long").alias("energy_scaled"),
    )
    levels_df = level_rows[0]
    for r in level_rows[1:]:
        levels_df = levels_df.unionByName(r)
    levels_df = levels_df.unionByName(smooth)
    chk = levels_df.agg(
        F.sum("energy_scaled").cast("long").alias("_rhs")
    )
    summary = tot.crossJoin(F.broadcast(chk)).select(
        "n_used",
        F.col("_sx2").cast("double").cast("long").alias("sum_x2"),
        (
            (F.col("_sx2") * F.lit(block).cast("decimal(38,0)"))
            .cast("double")
            .cast("long")
            - F.col("_rhs")
        ).alias("parseval_diff"),
    )
    return levels_df.crossJoin(F.broadcast(summary))


def session_gap_sweep(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gaps_s: tuple[int, ...] = (300, 900, 1800, 3600, 7200),
) -> DataFrame:
    """Sessionization-threshold sensitivity sweep — how many sessions
    and how much covered time would each candidate gap cutoff yield?
    The tuning table for the q24 sessionizer, computed WITHOUT
    sessionizing even once, from two exact identities over the
    inter-event gap multiset:

        n_sessions(g)  = n_users + #{gaps > g}
        Σ durations(g) = Σ_u (last_u − first_u) − Σ_{gaps > g} gap

    (each split removes exactly that gap's length from the covered
    span).  One partitioned lag pass + ONE aggregation with two
    conditional int64 sums per threshold; per-threshold ratios are
    single mirrored divisions.

    Output per threshold: threshold_s, n_sessions, sum_dur_us,
    mean_dur_us, sessions_per_user_milli.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(user_col).alias("_u"), us.alias("_us"))
    wlag = Window.partitionBy("_u").orderBy("_us")
    gaps = base.select(
        "_u", (F.col("_us") - F.lag("_us", 1).over(wlag)).alias("_gap")
    ).where(F.col("_gap").isNotNull())
    pu = base.groupBy("_u").agg(
        F.min("_us").alias("_f"), F.max("_us").alias("_l")
    )
    tot = pu.agg(
        F.count("*").cast("long").alias("_nu"),
        F.sum(F.col("_l") - F.col("_f")).cast("long").alias("_span"),
    )
    aggs = []
    for g in gaps_s:
        gus = int(g) * 1_000_000
        aggs.append(
            F.sum(F.when(F.col("_gap") > gus, 1).otherwise(0))
            .cast("long")
            .alias(f"_c{g}")
        )
        aggs.append(
            F.sum(F.when(F.col("_gap") > gus, F.col("_gap")).otherwise(0))
            .cast("long")
            .alias(f"_s{g}")
        )
    gagg = gaps.agg(*aggs)
    st = tot.crossJoin(F.broadcast(gagg))
    rows = [
        F.struct(
            F.lit(int(g)).cast("long").alias("threshold_s"),
            (F.col("_nu") + F.col(f"_c{g}")).cast("long").alias("n_sessions"),
            (F.col("_span") - F.col(f"_s{g}")).cast("long").alias(
                "sum_dur_us"
            ),
        )
        for g in gaps_s
    ]
    ex = st.select(
        "_nu", F.explode(F.array(*rows)).alias("_r")
    ).select(
        F.col("_r.threshold_s").alias("threshold_s"),
        F.col("_r.n_sessions").alias("n_sessions"),
        F.col("_r.sum_dur_us").alias("sum_dur_us"),
        "_nu",
    )
    return ex.select(
        "threshold_s",
        "n_sessions",
        "sum_dur_us",
        F.round(F.col("sum_dur_us").cast("double") / F.col("n_sessions"))
        .cast("long")
        .alias("mean_dur_us"),
        F.round(F.col("n_sessions") * 1000 / F.col("_nu"))
        .cast("long")
        .alias("sessions_per_user_milli"),
    )


def behavior_surprise(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    id_col: str = "event_id",
    min_transitions: int = 10,
    top_k: int = 20,
) -> DataFrame:
    """Per-user behavioral surprise — average negative log-likelihood
    of each user's event-type transition sequence under the CORPUS
    transition matrix (qa13's cells re-used as a model, scored the
    q66 way): bots, scripted accounts and broken instrumentation all
    walk improbable paths and float to the top of this ranking.

    nll(i→j) = ln_micro(c_i) − ln_micro(c_ij) is computed once per
    distinct CELL from exact integer counts, then integer-summed per
    user along their transitions (a broadcast-sized cell join — the
    transition matrix is |states|² rows).  avg is one rounded
    division; top-k is TakeOrdered (avg desc, user).

    Output (top_k rows): user, n_transitions, nll_micro_sum,
    avg_nll_micro.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        df.select(
            F.col(user_col).alias("_u"),
            F.col(state_col).alias("_to"),
            F.lag(F.col(state_col)).over(w).alias("_from"),
        )
        .where(F.col("_from").isNotNull())
    )
    cells = pairs.groupBy("_from", "_to").agg(
        F.count("*").cast("long").alias("_c")
    )
    marg = cells.groupBy("_from").agg(F.sum("_c").cast("long").alias("_ci"))
    lnm = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")
    nll = cells.join(marg, "_from").select(
        "_from",
        "_to",
        (lnm(F.col("_ci")) - lnm(F.col("_c"))).alias("_nll"),
    )
    per = (
        pairs.join(F.broadcast(nll), ["_from", "_to"])
        .groupBy("_u")
        .agg(
            F.count("*").cast("long").alias("n_transitions"),
            F.sum("_nll").cast("long").alias("nll_micro_sum"),
        )
        .where(F.col("n_transitions") >= int(min_transitions))
    )
    return (
        per.select(
            F.col("_u").alias(user_col),
            "n_transitions",
            "nll_micro_sum",
            F.round(
                F.col("nll_micro_sum").cast("double")
                / F.col("n_transitions")
            )
            .cast("long")
            .alias("avg_nll_micro"),
        )
        .orderBy(F.col("avg_nll_micro").desc(), F.col(user_col))
        .limit(int(top_k))
    )


def user_mix_divergence(
    df: DataFrame,
    user_col: str = "user_id",
    cat_col: str = "event_type",
    min_events: int = 20,
    top_k: int = 20,
) -> DataFrame:
    """Top-k users whose category mix diverges most from the
    population, by Jensen-Shannon divergence — the per-entity
    mix-shift screen (fraudulent or mis-instrumented accounts use
    features in proportions nobody else does; JSD is bounded and
    symmetric, unlike KL).

    Exactness over the DENSE user × category grid (absent cells are
    exact zeros — they still carry the q-side ln2 mass): with
    p = c/n_u, q = C_t/N, m = (p+q)/2, both KL legs reduce to
    ln_micro differences of INTEGER products (2cN vs cN + Cn_u, and
    2Cn_u vs the same denominator), integer-weighted and summed per
    user; the final JSD is ONE mirrored two-term double chain.
    Top-k is TakeOrdered (jsd desc, user).

    Output (top_k rows): user, n_events, jsd_micro.
    """
    base = df.select(
        F.col(user_col).alias("_u"), F.col(cat_col).alias("_t")
    )
    cu = base.groupBy("_u", "_t").agg(
        F.count("*").cast("long").alias("_c")
    )
    nu = cu.groupBy("_u").agg(F.sum("_c").cast("long").alias("_n"))
    ct = base.groupBy("_t").agg(F.count("*").cast("long").alias("_ct"))
    nn = ct.agg(F.sum("_ct").cast("long").alias("_nn"))
    grid = (
        nu.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(nn))
        .join(cu, ["_u", "_t"], "left")
        .select(
            "_u",
            "_n",
            "_ct",
            "_nn",
            F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("_c"),
        )
    )
    lnm = lambda c: F.round(F.log(c.cast("double")) * 1e6).cast("long")
    den = F.col("_c") * F.col("_nn") + F.col("_ct") * F.col("_n")
    p_term = F.when(
        F.col("_c") > 0,
        F.col("_c") * (lnm(2 * F.col("_c") * F.col("_nn")) - lnm(den)),
    ).otherwise(F.lit(0))
    q_term = F.col("_ct") * (
        lnm(2 * F.col("_ct") * F.col("_n")) - lnm(den)
    )
    per = grid.groupBy("_u").agg(
        F.max("_n").alias("n_events"),
        F.sum(p_term).cast("long").alias("_a"),
        F.sum(q_term).cast("long").alias("_b"),
        F.max("_nn").alias("_nn"),
    ).where(F.col("n_events") >= int(min_events))
    return (
        per.select(
            F.col("_u").alias(user_col),
            "n_events",
            F.round(
                F.col("_a").cast("double") / (F.lit(2.0) * F.col("n_events"))
                + F.col("_b").cast("double") / (F.lit(2.0) * F.col("_nn"))
            )
            .cast("long")
            .alias("jsd_micro"),
        )
        .orderBy(F.col("jsd_micro").desc(), F.col(user_col))
        .limit(int(top_k))
    )


def daily_p95_weekly_median(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Nested-quantile SRE report: each day's exact p95 of the metric,
    plus the median / min / max of those daily p95s — the
    "percentile of percentiles" that dashboards quietly get WRONG by
    averaging percentiles; both levels here are exact type-1 ranks
    (per-day histograms with PARTITIONED cumulative windows, then a
    bounded day-level histogram for the median — calendar-sized).

    Output per day: day_idx, n, p95_value, with median_daily_p95,
    p95_min, p95_max repeated (broadcast single-row join).
    """
    base = df.select(
        F.expr(
            f"unix_micros(cast({ts_col} as timestamp)) div 86400000000"
        ).alias("_d"),
        F.col(value_col).cast("long").alias("_v"),
    )
    hist = base.groupBy("_d", "_v").agg(
        F.count("*").cast("long").alias("_c")
    )
    nt = hist.groupBy("_d").agg(F.sum("_c").cast("long").alias("_n"))
    wv = (
        Window.partitionBy("_d")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p95 = (
        hist.select("_d", "_v", F.sum("_c").over(wv).alias("_cm"))
        .join(nt, "_d")
        .where(F.col("_cm") >= F.expr("(9500 * _n + 9999) div 10000"))
        .groupBy("_d")
        .agg(F.min("_v").cast("long").alias("p95_value"), F.max("_n").alias("n"))
    )
    ph = p95.groupBy("p95_value").agg(
        F.count("*").cast("long").alias("_dc")
    )
    dt = ph.agg(
        F.sum("_dc").cast("long").alias("_nd"),
        F.min("p95_value").cast("long").alias("p95_min"),
        F.max("p95_value").cast("long").alias("p95_max"),
    )
    wp = Window.orderBy("p95_value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    med = (
        ph.select("p95_value", F.sum("_dc").over(wp).alias("_cm"))
        .crossJoin(F.broadcast(dt))
        .where(F.col("_cm") >= F.expr("(5000 * _nd + 9999) div 10000"))
        .agg(F.min("p95_value").cast("long").alias("median_daily_p95"))
    )
    summ = dt.crossJoin(F.broadcast(med))
    return p95.crossJoin(F.broadcast(summ)).select(
        F.col("_d").alias("day_idx"),
        "n",
        "p95_value",
        "median_daily_p95",
        "p95_min",
        "p95_max",
    )


def quadratic_diurnal_fit(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "cents",
) -> DataFrame:
    """Quadratic fit of the metric against hour-of-day — the response-
    surface summary of the diurnal cycle (peak hour = the vertex
    −b/2c, curvature sign says single-peak vs single-trough), done as
    EXACT weighted least squares on raw rows: the normal equations
    need only the integer moments Σtᵏ (k ≤ 4, t ≤ 23) and Σtᵏy
    (k ≤ 2), and the 3×3 system solves by Cramer with decimal38
    determinants (every det term is a product of three exact integer
    moments), one mirrored double division per coefficient.

    Output (single row): n, a_micro (intercept), b_micro, c_micro
    (quadratic), vertex_milli_hours (NULL when c = 0), convex.
    """
    base = df.select(
        F.expr(
            f"(unix_micros(cast({ts_col} as timestamp))"
            " div 3600000000) % 24"
        ).alias("_t"),
        F.col(value_col).cast("long").alias("_y"),
    )
    m = base.agg(
        F.count("*").cast("long").alias("_s0"),
        F.sum("_t").cast("long").alias("_s1"),
        F.sum(F.col("_t") * F.col("_t")).cast("long").alias("_s2"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t"))
        .cast("long")
        .alias("_s3"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_t") * F.col("_t"))
        .cast("long")
        .alias("_s4"),
        F.sum("_y").cast("long").alias("_t0"),
        F.sum(F.col("_t") * F.col("_y")).cast("long").alias("_t1"),
        F.sum(F.col("_t") * F.col("_t") * F.col("_y"))
        .cast("long")
        .alias("_t2"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        return (
            a1 * (b2 * c3 - b3 * c2)
            - a2 * (b1 * c3 - b3 * c1)
            + a3 * (b1 * c2 - b2 * c1)
        )

    dd = det3(
        d("_s0"), d("_s1"), d("_s2"),
        d("_s1"), d("_s2"), d("_s3"),
        d("_s2"), d("_s3"), d("_s4"),
    )
    da = det3(
        d("_t0"), d("_s1"), d("_s2"),
        d("_t1"), d("_s2"), d("_s3"),
        d("_t2"), d("_s3"), d("_s4"),
    )
    db = det3(
        d("_s0"), d("_t0"), d("_s2"),
        d("_s1"), d("_t1"), d("_s3"),
        d("_s2"), d("_t2"), d("_s4"),
    )
    dc = det3(
        d("_s0"), d("_s1"), d("_t0"),
        d("_s1"), d("_s2"), d("_t1"),
        d("_s2"), d("_s3"), d("_t2"),
    )
    coef = lambda num: F.when(
        dd.cast("double") != 0,
        F.round(num.cast("double") * 1_000_000 / dd.cast("double")).cast(
            "long"
        ),
    )
    out = m.select(
        F.col("_s0").alias("n"),
        coef(da).alias("a_micro"),
        coef(db).alias("b_micro"),
        coef(dc).alias("c_micro"),
    )
    return out.select(
        "n",
        "a_micro",
        "b_micro",
        "c_micro",
        F.when(
            F.col("c_micro") != 0,
            F.round(
                -F.col("b_micro").cast("double")
                * 1000
                / (2 * F.col("c_micro"))
            ).cast("long"),
        ).alias("vertex_milli_hours"),
        (F.col("c_micro") > 0).alias("convex"),
    )


def pacf_levinson(
    series: DataFrame,
    t_col: str,
    x_col: str,
) -> DataFrame:
    """Partial autocorrelation at lags 1–3 by the unrolled Durbin–
    Levinson recursion — the Box–Jenkins order-selection companion to
    ACF (qa70) and Ljung–Box (qb97): an AR(p) process cuts the PACF
    off after lag p, which the raw ACF cannot show.

    ACF values come integer-exactly from the dense-spine scaled
    deviations (qc85 idiom): r_l = round(Γ_l·1e6/Γ_0), ONE division
    each; the three recursion levels are mirrored micro-integer
    chains (each φ micro-rounded per level — the per-cell rule — so
    cross-level arithmetic is integer products over 1e12
    denominators, with one rounded division per φ).

    Output per lag (1..3): lag, r_micro, pacf_micro.
    """
    base = series.select(
        F.col(t_col).cast("long").alias("_t"),
        F.col(x_col).cast("long").alias("_x"),
    )
    ext = base.agg(F.min("_t").alias("_lo"), F.max("_t").alias("_hi"))
    spine = ext.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_t")
    )
    dense = spine.join(base, "_t", "left").select(
        "_t", F.coalesce(F.col("_x"), F.lit(0)).cast("long").alias("_x")
    )
    tot = dense.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"),
    )
    z = dense.crossJoin(F.broadcast(tot)).select(
        "_t", (F.col("_n") * F.col("_x") - F.col("_sx")).alias("_z")
    )
    wlag = Window.orderBy("_t")
    lags = z.select(
        "_z",
        *[F.lead("_z", l).over(wlag).alias(f"_z{l}") for l in (1, 2, 3)],
    )
    gam = lags.agg(
        F.sum(F.col("_z") * F.col("_z")).cast("long").alias("_g0"),
        *[
            F.sum(F.col("_z") * F.col(f"_z{l}")).cast("long").alias(f"_g{l}")
            for l in (1, 2, 3)
        ],
    )
    r = lambda l: F.round(
        F.col(f"_g{l}").cast("double") * 1_000_000 / F.col("_g0")
    ).cast("long")
    st = gam.select(
        r(1).alias("_r1"), r(2).alias("_r2"), r(3).alias("_r3")
    )
    # Durbin-Levinson, all micro ints with one rounded division/level
    p11 = F.col("_r1")
    p22 = F.round(
        (F.col("_r2") * 1_000_000 - F.col("_r1") * F.col("_r1"))
        .cast("double")
        * 1_000_000
        / (
            F.lit(1_000_000_000_000).cast("double")
            - F.col("_r1") * F.col("_r1")
        )
    ).cast("long")
    st2 = st.select(
        "_r1",
        "_r2",
        "_r3",
        p11.alias("_p11"),
        p22.alias("_p22"),
    ).select(
        "*",
        F.round(
            (F.col("_p11") * (F.lit(1_000_000) - F.col("_p22")))
            .cast("double")
            / 1_000_000
        )
        .cast("long")
        .alias("_p21"),
    )
    num3 = (
        F.col("_r3") * 1_000_000_000_000
        - F.col("_p21") * F.col("_r2") * 1_000_000
        - F.col("_p22") * F.col("_r1") * 1_000_000
    )
    den3 = (
        F.lit(1_000_000_000_000_000_000).cast("decimal(38,0)")
        - (F.col("_p21") * F.col("_r1")).cast("decimal(38,0)")
        * F.lit(1_000_000).cast("decimal(38,0)")
        - (F.col("_p22") * F.col("_r2")).cast("decimal(38,0)")
        * F.lit(1_000_000).cast("decimal(38,0)")
    )
    st3 = st2.select(
        "*",
        F.round(
            num3.cast("decimal(38,0)").cast("double")
            * 1_000_000
            / den3.cast("double")
        )
        .cast("long")
        .alias("_p33"),
    )
    rows = st3.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("lag"),
                    F.col("_r1").alias("r_micro"),
                    F.col("_p11").cast("long").alias("pacf_micro"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("lag"),
                    F.col("_r2").alias("r_micro"),
                    F.col("_p22").cast("long").alias("pacf_micro"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("lag"),
                    F.col("_r3").alias("r_micro"),
                    F.col("_p33").cast("long").alias("pacf_micro"),
                ),
            )
        ).alias("_r")
    )
    return rows.select(
        F.col("_r.lag").alias("lag"),
        F.col("_r.r_micro").alias("r_micro"),
        F.col("_r.pacf_micro").alias("pacf_micro"),
    )


def feature_cousage(
    df: DataFrame,
    user_col: str = "user_id",
    feat_col: str = "event_type",
) -> DataFrame:
    """Feature co-usage matrix — for every feature pair, how many
    users touch both, the Jaccard overlap, and the adoption LIFT
    P(b|a)/P(b): the product question "which features pull users into
    which" answered with exact distinct-user set algebra (a
    (user, feature) distinct projection, one self-join on the user,
    margins broadcast back — qb28 counts co-occurrence EVENTS; this
    counts co-adopting USERS, a different quantity).

    All integers until one micro/milli division each: jaccard =
    both/(n_a + n_b − both), lift = both·N / (n_a·n_b).

    Output per pair (a < b): feat_a, feat_b, n_a, n_b, n_both,
    jaccard_micro, lift_milli.
    """
    uf = (
        df.select(
            F.col(user_col).alias("_u"), F.col(feat_col).alias("_f")
        )
        .distinct()
    )
    marg = uf.groupBy("_f").agg(F.count("*").cast("long").alias("_n"))
    nn = uf.select("_u").distinct().agg(
        F.count("*").cast("long").alias("_nu")
    )
    both = (
        uf.alias("x")
        .join(uf.alias("y"), "_u")
        .where(F.col("x._f") < F.col("y._f"))
        .groupBy(
            F.col("x._f").alias("feat_a"), F.col("y._f").alias("feat_b")
        )
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    out = (
        both.join(
            F.broadcast(marg.select(F.col("_f").alias("feat_a"),
                                    F.col("_n").alias("n_a"))),
            "feat_a",
        )
        .join(
            F.broadcast(marg.select(F.col("_f").alias("feat_b"),
                                    F.col("_n").alias("n_b"))),
            "feat_b",
        )
        .crossJoin(F.broadcast(nn))
    )
    return out.select(
        "feat_a",
        "feat_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.col("n_both")
            * 1_000_000
            / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
        )
        .cast("long")
        .alias("jaccard_micro"),
        F.round(
            F.col("n_both").cast("double")
            * F.col("_nu")
            * 1000
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        .cast("long")
        .alias("lift_milli"),
    )


def activation_lag(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "cents",
    activation_bp: int = 9000,
) -> DataFrame:
    """Activation-lag distribution — time from each user's FIRST
    event to their first HIGH-VALUE event (above the exact global
    percentile cut): the activation-funnel number growth teams watch,
    with exact type-1 quartiles of the lag histogram instead of a
    mean that one whale stretches.

    Per user: min ts overall and min ts above the cut (conditional
    min — one aggregation); lags in whole hours keep the histogram
    bounded; never-activated users are counted, not dropped.

    Output (single row): n_users, n_activated, activation_micro,
    p25_lag_hours, p50_lag_hours, p75_lag_hours.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(user_col).alias("_u"),
        us.alias("_us"),
        F.col(value_col).cast("long").alias("_v"),
    )
    hist0 = base.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    nt0 = hist0.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist0.select("_v", F.sum("_c").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt0))
        .where(
            F.col("_cm")
            >= F.expr(f"({int(activation_bp)} * _n + 9999) div 10000")
        )
        .agg(F.min("_v").alias("_cut"))
    )
    per = (
        base.crossJoin(F.broadcast(cut))
        .groupBy("_u")
        .agg(
            F.min("_us").alias("_first"),
            F.min(
                F.when(F.col("_v") > F.col("_cut"), F.col("_us"))
            ).alias("_act"),
        )
    )
    lags = per.select(
        F.when(
            F.col("_act").isNotNull(),
            F.expr("(_act - _first) div 3600000000"),
        ).alias("_lag")
    )
    tot = lags.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("_lag").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_activated"),
    )
    lh = lags.where(F.col("_lag").isNotNull()).groupBy("_lag").agg(
        F.count("*").cast("long").alias("_c")
    )
    na = lh.agg(F.sum("_c").cast("long").alias("_na"))
    wl = Window.orderBy("_lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = lh.select("_lag", F.sum("_c").over(wl).alias("_cm")).crossJoin(
        F.broadcast(na)
    )
    q = lambda bp, nm: cum.where(
        F.col("_cm") >= F.expr(f"({bp} * _na + 9999) div 10000")
    ).agg(F.min("_lag").cast("long").alias(nm))
    out = (
        tot.crossJoin(F.broadcast(q(2500, "p25_lag_hours")))
        .crossJoin(F.broadcast(q(5000, "p50_lag_hours")))
        .crossJoin(F.broadcast(q(7500, "p75_lag_hours")))
    )
    return out.select(
        "n_users",
        "n_activated",
        F.round(F.col("n_activated") * 1_000_000 / F.col("n_users"))
        .cast("long")
        .alias("activation_micro"),
        "p25_lag_hours",
        "p50_lag_hours",
        "p75_lag_hours",
    )


def hour_trig_table() -> list[tuple]:
    """Injected 24-row circular table: (hour, cos_micro, sin_micro)
    at angle 2π·h/24 — Python-computed once, shared by both engines
    (qa89 rule)."""
    import math

    return [
        (
            h,
            round(math.cos(2 * math.pi * h / 24) * 1_000_000),
            round(math.sin(2 * math.pi * h / 24) * 1_000_000),
        )
        for h in range(24)
    ]


def circular_peak(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    rayleigh_crit_milli: int = 2996,
) -> DataFrame:
    """Circular statistics of the diurnal cycle per group — hour-of-
    day is an ANGLE, so "mean hour" via arithmetic averaging is wrong
    across midnight; the circular resultant does it right: R̄ near 1
    means the group's activity concentrates at one time of day, near
    0 means uniform, and the Rayleigh statistic n·R̄² tests
    non-uniformity.

    C = Σ cos_micro[h], S = Σ sin_micro[h] over the INJECTED 24-row
    trig table (qc65 rule — no engine runs trig); R̄ is one IEEE
    sqrt; the peak hour avoids atan2 entirely — it is the ARGMAX of
    C·cos_h + S·sin_h over the same table, a pure integer
    comparison with an hour tie-break.  The Rayleigh critical value
    (−ln α at α=0.05) is an injected milli constant.

    Output per group: group, n, c_sum, s_sum, resultant_milli,
    peak_hour, rayleigh_z_milli, concentrated.
    """
    trig = df.sparkSession.createDataFrame(
        hour_trig_table(), ["_h", "_cm", "_sm"]
    )
    base = df.select(
        F.col(group_col).alias("_g"),
        F.expr(
            f"(unix_micros(cast({ts_col} as timestamp))"
            " div 3600000000) % 24"
        ).alias("_h"),
    )
    per = (
        base.join(F.broadcast(trig), "_h")
        .groupBy("_g")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("_cm").cast("long").alias("c_sum"),
            F.sum("_sm").cast("long").alias("s_sum"),
        )
    )
    proj = (
        per.crossJoin(F.broadcast(trig))
        .select(
            "_g",
            "_h",
            (F.col("c_sum") * F.col("_cm") + F.col("s_sum") * F.col("_sm"))
            .alias("_p"),
        )
    )
    wpk = Window.partitionBy("_g").orderBy(
        F.col("_p").desc(), F.col("_h")
    )
    peak = (
        proj.withColumn("_rn", F.row_number().over(wpk))
        .where(F.col("_rn") == 1)
        .select("_g", F.col("_h").cast("long").alias("peak_hour"))
    )
    rbar = F.sqrt(
        F.col("c_sum").cast("double") * F.col("c_sum")
        + F.col("s_sum").cast("double") * F.col("s_sum")
    ) / (F.col("n").cast("double") * 1_000_000)
    out = per.join(peak, "_g")
    return out.select(
        F.col("_g").alias(group_col),
        "n",
        "c_sum",
        "s_sum",
        F.round(rbar * 1000).cast("long").alias("resultant_milli"),
        "peak_hour",
        F.round(F.col("n") * rbar * rbar * 1000)
        .cast("long")
        .alias("rayleigh_z_milli"),
        (
            F.round(F.col("n") * rbar * rbar * 1000).cast("long")
            > F.lit(int(rayleigh_crit_milli))
        ).alias("concentrated"),
    )


def early_signal_lift(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Early-signal predictiveness — the growth-analytics classic: split
    users into quartiles by FIRST-WEEK activity, measure who is still
    active in the LAST THIRD of the window, and report retention per
    quartile with lift against the base rate.  A strong gradient
    justifies first-week activation investments; a flat one kills
    them.

    Windows are thirds/weeks of the observed span (integer epoch
    arithmetic); quartile cuts are exact type-1 ranks over the
    first-week activity histogram; every rate is one rounded
    division of int64 counts.

    Output per quartile (1..4): quartile, n_users, n_retained,
    retention_micro, lift_milli (vs base rate).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(user_col).alias("_u"), us.alias("_us"))
    ext = base.agg(F.min("_us").alias("_lo"), F.max("_us").alias("_hi"))
    wk = 7 * 86_400_000_000
    per = (
        base.crossJoin(F.broadcast(ext))
        .groupBy("_u")
        .agg(
            F.sum(
                F.when(F.col("_us") < F.col("_lo") + wk, 1).otherwise(0)
            )
            .cast("long")
            .alias("_early"),
            F.max(
                F.when(
                    F.col("_us") * 3
                    >= F.col("_lo") + F.col("_hi") * 2,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("_ret"),
        )
        .where(F.col("_early") > 0)
    )
    hist = per.groupBy("_early").agg(
        F.count("*").cast("long").alias("_c")
    )
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_early").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("_early", F.sum("_c").over(wv).alias("_cm"))
    cuts = None
    for q, bp in ((1, 2500), (2, 5000), (3, 7500)):
        c = (
            cum.crossJoin(F.broadcast(nt))
            .where(F.col("_cm") >= F.expr(f"({bp} * _n + 9999) div 10000"))
            .agg(F.min("_early").alias(f"_q{q}"))
        )
        cuts = c if cuts is None else cuts.crossJoin(F.broadcast(c))
    lab = per.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("_early") <= F.col("_q1"), 1)
        .when(F.col("_early") <= F.col("_q2"), 2)
        .when(F.col("_early") <= F.col("_q3"), 3)
        .otherwise(4)
        .cast("long")
        .alias("quartile"),
        "_ret",
    )
    cells = lab.groupBy("quartile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("_ret").cast("long").alias("n_retained"),
    )
    tot = cells.agg(
        F.sum("n_users").cast("long").alias("_tn"),
        F.sum("n_retained").cast("long").alias("_tr"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "quartile",
        "n_users",
        "n_retained",
        F.round(F.col("n_retained") * 1_000_000 / F.col("n_users"))
        .cast("long")
        .alias("retention_micro"),
        F.when(
            F.col("_tr") > 0,
            F.round(
                F.col("n_retained").cast("double")
                * F.col("_tn")
                * 1000
                / (F.col("n_users").cast("double") * F.col("_tr"))
            ).cast("long"),
        ).alias("lift_milli"),
    )


def watermark_lateness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    delays_s: tuple[int, ...] = (0, 10, 30, 60, 300, 900, 3600),
) -> DataFrame:
    """Watermark-delay design audit — the number a Structured Streaming
    job needs BEFORE it picks `withWatermark`: how out-of-order is this
    feed per key, and what fraction of rows would each candidate delay
    drop as late?

    Lateness of a row = max(ts of earlier-arriving rows of the SAME
    key) − own ts (arrival order = ``order_col``), clamped at 0 — the
    exact quantity a per-key stateful operator compares against the
    watermark.  The running max is a window PARTITIONED BY key (never
    global), so the plan scales with keys; the delay grid is a fixed
    injected literal spine (one row per candidate delay, the qa33
    sweep-table idiom), so coverage for ALL delays comes from ONE scan
    + one broadcast cross join — no per-delay jobs.

    Output, one row per candidate delay: delay_s, n_rows, n_late (rows
    whose lateness exceeds delay_s), late_share_micro and max_lateness_s.

    This op answers only the drop-rate question; a median-lateness
    witness is left to qd01's gap machinery.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_o"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(
        F.col(key_col).alias("_k"), us.alias("_us"), F.col(order_col).alias("_o")
    ).withColumn(
        "_late_us",
        # first arrival per key has an EMPTY preceding frame → NULL max;
        # coalesce BEFORE greatest (engines disagree on greatest(NULL,x))
        F.greatest(
            F.coalesce(F.max("_us").over(w) - F.col("_us"), F.lit(0)),
            F.lit(0),
        ),
    )
    lat = base.select(
        F.expr("_late_us div 1000000").cast("long").alias("_late")
    )
    grid = lat.sparkSession.createDataFrame(
        [(int(d),) for d in delays_s], "delay_s long"
    )
    tot = lat.agg(
        F.count("*").cast("long").alias("_n"),
        F.max("_late").cast("long").alias("max_lateness_s"),
    )
    per = (
        lat.crossJoin(F.broadcast(grid))
        .groupBy("delay_s")
        .agg(
            F.sum(F.when(F.col("_late") > F.col("delay_s"), 1).otherwise(0))
            .cast("long")
            .alias("n_late")
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "delay_s",
            F.col("_n").alias("n_rows"),
            "n_late",
            F.round(F.col("n_late") * 1_000_000 / F.col("_n"))
            .cast("long")
            .alias("late_share_micro"),
            "max_lateness_s",
        )
    )


def funnel_segment_ztest(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
    segment_expr=None,
    z_crit_micro: int = 1_959_964,
) -> DataFrame:
    """Per-stage two-proportion z-test of funnel reach between two user
    segments — "did the variant move each stage of the funnel?", the
    composition of funnel_stages (qa58) with the qb13 pooled-z rule.

    Segments default to even/odd ``user_col`` (the qb13 convention).
    Reach counts come from the same chained first-qualifying-event
    logic as funnel_stages run once per segment; the z statistic per
    stage clears every proportion to integer products (signed
    numerator x_a·n_b − x_b·n_a exact int64; doubles enter in a FIXED
    mirrored order only past int64 bounds; IEEE sqrt; critical value
    Python-injected).

    Output per stage: stage, step_name, n_seg_a, reach_a, n_seg_b,
    reach_b, rate_a_micro, rate_b_micro, z_milli, significant.
    """
    seg = (
        segment_expr
        if segment_expr is not None
        else F.pmod(F.col(user_col).cast("long"), F.lit(2)) == 0
    )
    halves = []
    totals = []
    for tag, keep in (("a", seg), ("b", ~seg)):
        part = df.where(keep)
        f = funnel_stages(part, user_col, type_col, ts_col, steps).select(
            "stage", "step_name", F.col("n_users").alias(f"reach_{tag}")
        )
        halves.append(f)
        totals.append(
            part.agg(
                F.countDistinct(user_col).cast("long").alias(f"n_seg_{tag}")
            )
        )
    j = (
        halves[0]
        .join(halves[1], ["stage", "step_name"], "outer")
        .na.fill({"reach_a": 0, "reach_b": 0})
        .crossJoin(F.broadcast(totals[0]))
        .crossJoin(F.broadcast(totals[1]))
    )
    num = F.col("reach_a") * F.col("n_seg_b") - F.col("reach_b") * F.col(
        "n_seg_a"
    )
    s_tot = F.col("reach_a") + F.col("reach_b")
    n_tot = F.col("n_seg_a") + F.col("n_seg_b")
    den = (
        (F.col("n_seg_a") * F.col("n_seg_b")).cast("double")
        * s_tot
        * (n_tot - s_tot)
    )
    ok = (
        (F.col("n_seg_a") > 0)
        & (F.col("n_seg_b") > 0)
        & (s_tot > 0)
        & (s_tot < n_tot)
    )
    z_milli = F.round(
        F.signum(num.cast("double"))
        * F.sqrt(num.cast("double") * num * n_tot / den)
        * F.lit(1000)
    ).cast("long")
    return j.select(
        F.col("stage").cast("long").alias("stage"),
        "step_name",
        "n_seg_a",
        F.col("reach_a").cast("long").alias("reach_a"),
        "n_seg_b",
        F.col("reach_b").cast("long").alias("reach_b"),
        F.when(
            F.col("n_seg_a") > 0,
            F.round(F.col("reach_a") * 1_000_000 / F.col("n_seg_a")).cast(
                "long"
            ),
        ).alias("rate_a_micro"),
        F.when(
            F.col("n_seg_b") > 0,
            F.round(F.col("reach_b") * 1_000_000 / F.col("n_seg_b")).cast(
                "long"
            ),
        ).alias("rate_b_micro"),
        F.when(ok, z_milli).alias("z_milli"),
        F.when(ok, F.abs(z_milli) * 1000 > F.lit(int(z_crit_micro))).alias(
            "significant"
        ),
    )


def state_size_projection(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_lens_s: tuple[int, ...] = (60, 300, 900, 3600),
) -> DataFrame:
    """Streaming state-store sizing — the companion of the watermark
    audit (watermark_lateness): for each candidate tumbling-window
    length, how many (key, window) state rows a windowed aggregation
    would hold — the average and the WORST window instance (peak state,
    the OOM number), from one batch table.

    window instance = epoch_s div L (exact integer bucketing); per
    length: distinct keys per instance → avg (micro) and max.  The
    spine is calendar × grid bounded (instances = timespan/L), never
    row-level; one distinct-collapse per grid entry, all in ONE plan
    via the injected length grid.

    Output per length: window_len_s, n_windows, avg_keys_micro,
    max_keys, total_state_rows.
    """
    grid = df.sparkSession.createDataFrame(
        [(int(s),) for s in window_lens_s], "window_len_s long"
    )
    inst = (
        df.select(
            F.col(key_col).alias("_k"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        )
        # integer div, never a double /: exact epoch-second bucketing
        .select("_k", F.expr("_us div 1000000").alias("_s"))
        .crossJoin(F.broadcast(grid))
        .select(
            "window_len_s",
            F.expr("_s div window_len_s").alias("_w"),
            "_k",
        )
        .distinct()
        .groupBy("window_len_s", "_w")
        .agg(F.count("*").cast("long").alias("_nk"))
    )
    return inst.groupBy("window_len_s").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.round(F.sum("_nk") * 1_000_000 / F.count("*"))
        .cast("long")
        .alias("avg_keys_micro"),
        F.max("_nk").cast("long").alias("max_keys"),
        F.sum("_nk").cast("long").alias("total_state_rows"),
    )
