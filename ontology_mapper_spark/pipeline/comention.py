"""Cross-turn co-mention edges (SURVEY.md J8 — new, north_star).

Two entities co-mentioned within a window of W turns in the same
conversation get an undirected edge (entity_a < entity_b) with a count.

Implementation choice (scale): a `Window.partitionBy(conv_id)
.orderBy(turn_idx).rowsBetween(0, W)` + collect_list + explode would
materialize O(turns×W) intermediate arrays; instead we reduce FIRST to the
distinct (conv_id, turn_idx, entity) set — orders of magnitude smaller than
mentions — and self-join on conv_id with a turn-range predicate. AQE handles
residual skew; both sides are pre-aggregated so the join input is minimal.
One shuffle on conv_id (both sides), which co-partitions the join; the
final groupBy(a, b) is the unavoidable edge aggregation shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def comention_edges(links: DataFrame, window_turns: int = 2,
                    entity_col: str = "class_iri",
                    by: tuple[str, ...] = ()) -> DataFrame:
    """(*by, entity_a, entity_b, n_comentions) for pairs within `window_turns`.

    `by` names links columns constant within a conversation (e.g. its
    hash bucket); they are carried onto every edge and scope its count,
    which is then a partial count per `by` group.
    """
    ments = (
        links.select(*by, "conv_id", "turn_idx", F.col(entity_col).alias("entity"))
        .distinct()
    )
    a = ments.alias("a")
    b = ments.alias("b")
    # Symmetric window: the lexicographically smaller entity may be
    # mentioned EITHER side of the other within W turns. a.entity <
    # b.entity still counts each unordered mention-event pair exactly once
    # (a is pinned to the smaller entity, b to the larger).
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("b.turn_idx") >= F.col("a.turn_idx") - window_turns)
            & (F.col("b.turn_idx") <= F.col("a.turn_idx") + window_turns)
            & (F.col("a.entity") < F.col("b.entity")),
        )
        .select(
            *[F.col(f"a.{c}").alias(c) for c in by],
            F.col("a.entity").alias("entity_a"),
            F.col("b.entity").alias("entity_b"),
        )
    )
    return pairs.groupBy(*by, "entity_a", "entity_b").agg(
        F.count("*").alias("n_comentions")
    )


def pmi_comention_edges(
    links: DataFrame,
    entity_col: str = "class_iri",
    unit_col: str = "conv_id",
) -> DataFrame:
    """PMI/NPMI-weighted co-occurrence edges (Church & Hanks 1990; NPMI
    per Bouma 2009) — the standard KG edge-strength upgrade over q35's
    raw co-mention counts: pmi = ln(N·c_ab / (c_a·c_b)) over
    conversation-level co-occurrence units, npmi = pmi / -ln(c_ab/N)
    (1.0 by convention when the pair occurs in every unit).

    Output: (entity_a, entity_b, n_a, n_b, n_ab, pmi_micro, npmi_micro)
    with entity_a < entity_b.

    Hash-exactness: every ln runs ONCE per distinct edge on a rational
    built from exact integer counts (bigint·bigint then one float
    divide — the same expression shape in Spark and the DuckDB oracle),
    then micro-fixed-point rounds away any sub-1e-6 libm wobble. The
    q66 discipline: no double accumulation anywhere.

    Scale shape: reduce FIRST to the distinct (unit, entity) set; the
    pair join is a self-equi-join on unit_col (fan-out bounded by
    per-unit entity count, AQE handles hub units); entity marginals and
    the single-row N are broadcast — the entity vocabulary is tiny
    relative to the corpus, and N never leaves the JVM (no driver-side
    count(), the plan stays lazy end to end).
    """
    ments = (
        links.select(F.col(unit_col).alias("unit"), F.col(entity_col).alias("entity"))
        .distinct()
    )
    n_df = ments.agg(F.countDistinct("unit").alias("n"))
    counts = ments.groupBy("entity").agg(F.count("*").alias("n_units"))
    a, b = ments.alias("a"), ments.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.unit") == F.col("b.unit"))
            & (F.col("a.entity") < F.col("b.entity")),
        )
        .groupBy(
            F.col("a.entity").alias("entity_a"),
            F.col("b.entity").alias("entity_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    ca = F.broadcast(counts.select(F.col("entity").alias("entity_a"),
                                   F.col("n_units").alias("n_a")))
    cb = F.broadcast(counts.select(F.col("entity").alias("entity_b"),
                                   F.col("n_units").alias("n_b")))
    joined = (
        pairs.join(ca, "entity_a").join(cb, "entity_b")
        .crossJoin(F.broadcast(n_df))
    )
    ratio = (F.col("n_ab") * F.col("n")) / (F.col("n_a") * F.col("n_b"))
    pmi = F.log(ratio)
    return joined.select(
        "entity_a",
        "entity_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_ab").cast("long").alias("n_ab"),
        F.round(pmi * 1e6).cast("long").alias("pmi_micro"),
        F.when(F.col("n_ab") == F.col("n"), F.lit(1000000).cast("long"))
        .otherwise(
            F.round(pmi / -F.log(F.col("n_ab") / F.col("n")) * 1e6).cast("long")
        )
        .alias("npmi_micro"),
    )


def llr_comention_edges(
    links: DataFrame,
    entity_col: str = "class_iri",
    unit_col: str = "conv_id",
) -> DataFrame:
    """Dunning log-likelihood-ratio (G², Dunning 1993) significance for
    co-occurrence edges — the sparse-count-robust companion to
    `pmi_comention_edges`: PMI over-rewards rare pairs (two hapaxes
    co-occurring once get maximal PMI); G² scores the full 2×2
    contingency table, so a pair must be BOTH enriched and supported to
    rank.  The standard edge-significance filter before a co-mention
    graph feeds canonicalization.

        G² = 2·[Σ xlx(k_ij) − Σ xlx(rowsums) − Σ xlx(colsums) + xlx(N)]

    with k11 = n_ab, k12 = n_a − n_ab, k21 = n_b − n_ab,
    k22 = N − n_a − n_b + n_ab and xlx(x) = x·ln x (0 at 0).

    Exactness: xlx(x) = x · ln_micro(x) — an INTEGER product per term
    (the q66 ln discipline), so G² is exact bigint arithmetic end to
    end and hash-identical in any engine.  (x·ln_micro(x) needs
    x < ~3·10¹¹ to stay in int64 — beyond that, compute the same DAG in
    doubles; the unit count of a co-occurrence corpus rarely gets
    there.)  Scale shape identical to PMI: distinct-first, unit-keyed
    self-join, broadcast marginals, lazy N.

    Output: (entity_a, entity_b, n_a, n_b, n_ab, n_units, g2_micro)
    with entity_a < entity_b.
    """
    ments = (
        links.select(
            F.col(unit_col).alias("unit"), F.col(entity_col).alias("entity")
        )
        .distinct()
    )
    n_df = ments.agg(F.countDistinct("unit").alias("n_units"))
    counts = ments.groupBy("entity").agg(F.count("*").alias("n_cnt"))
    a, b = ments.alias("a"), ments.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.unit") == F.col("b.unit"))
            & (F.col("a.entity") < F.col("b.entity")),
        )
        .groupBy(
            F.col("a.entity").alias("entity_a"),
            F.col("b.entity").alias("entity_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    ca = F.broadcast(
        counts.select(F.col("entity").alias("entity_a"), F.col("n_cnt").alias("n_a"))
    )
    cb = F.broadcast(
        counts.select(F.col("entity").alias("entity_b"), F.col("n_cnt").alias("n_b"))
    )
    j = pairs.join(ca, "entity_a").join(cb, "entity_b").crossJoin(
        F.broadcast(n_df)
    )

    def xlx(x):
        return F.when(
            x > 0,
            x * F.round(F.log(x.cast("double")) * 1_000_000).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    k11 = F.col("n_ab").cast("long")
    k12 = (F.col("n_a") - F.col("n_ab")).cast("long")
    k21 = (F.col("n_b") - F.col("n_ab")).cast("long")
    k22 = (
        F.col("n_units") - F.col("n_a") - F.col("n_b") + F.col("n_ab")
    ).cast("long")
    nn = F.col("n_units").cast("long")
    ll = (
        xlx(k11)
        + xlx(k12)
        + xlx(k21)
        + xlx(k22)
        - xlx(F.col("n_a").cast("long"))
        - xlx((nn - F.col("n_a")).cast("long"))
        - xlx(F.col("n_b").cast("long"))
        - xlx((nn - F.col("n_b")).cast("long"))
        + xlx(nn)
    )
    return j.select(
        "entity_a",
        "entity_b",
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("n_ab").cast("long"),
        nn.alias("n_units"),
        (ll * 2).cast("long").alias("g2_micro"),
    )
