"""Driver-contract queries: every operator from SURVEY.md §2 as a
(spark_callable, duckdb_oracle_sql) pair over the driver's parquet tables.

Conventions that make the driver's order-insensitive value-hash compare
work (see /root/repo/__spark_entry__.py docstring):

* every computed column is aliased IDENTICALLY in Spark and SQL;
* float results either pass through unchanged from parquet (bit-exact), go
  through exact decimal arithmetic cast to double at the end, or are
  produced by a single IEEE operation (one division) — never by
  order-dependent double summation;
* every window/rank has a TOTAL order (unique tiebreak column);
* LIMIT/top-k only after a total order.

Each query's docstring names the SURVEY.md §2 operator(s) it covers and
the reference lines it derives from.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.align import alignment_type_col
from .functions.keys import cache_key_col, curie_to_iri_col
from .functions.synonyms import top_synonyms_col
from .functions.text import clean_description_col, norm_label_col
from .operators.dedup import (
    exact_dedup,
    minhash_band_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from .operators.textstats import (
    token_count_col,
    with_fingerprint,
    with_text_stats,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# scans / filters / projections (S-, F-, P-groups)
# ---------------------------------------------------------------------------


@_q(
    "q01_pruned_scan_agg",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag
    """,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """S1-analogue scan with predicate+column pruning pushed to parquet
    (SURVEY.md §4.1; verify with .explain → PushedFilters/ReadSchema)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@_q(
    "q02_composite_filters",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_orderstatus IN ('O','F')
      AND o_orderpriority LIKE '1%'
      AND length(o_orderpriority) >= 3
      AND o_totalprice > 1000.0
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """F1-F8 composite predicates: isin + prefix + length + inequality
    (core/parser.py:112-119, utils/helpers.py:48-60)."""
    o = _t(spark, sf, "orders")
    return (
        o.where(
            F.col("o_orderstatus").isin("O", "F")
            & F.col("o_orderpriority").startswith("1")
            & (F.length("o_orderpriority") >= 3)
            & (F.col("o_totalprice") > 1000.0)
        )
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "q03_fragment_label",
    """
    SELECT split_part(p_type, ' ', -1) AS fragment,
           translate(p_brand, '#', ' ') AS label,
           count(*) AS n
    FROM part
    GROUP BY 1, 2
    """,
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    """P1 URI-fragment + P2 label derivation (core/parser.py:113-125)."""
    p = _t(spark, sf, "part")
    return (
        p.select(
            F.substring_index("p_type", " ", -1).alias("fragment"),
            F.translate("p_brand", "#", " ").alias("label"),
        )
        .groupBy("fragment", "label")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "q04_clean_description",
    """
    SELECT doc_id,
           CASE WHEN length(capped) > 200
                THEN substr(capped, 1, 197) || '...'
                ELSE capped END AS cleaned
    FROM (
      SELECT doc_id,
             upper(substr(stripped, 1, 1)) || substr(stripped, 2) AS capped
      FROM (
        SELECT doc_id,
               regexp_replace(
                 trim(regexp_replace(text, '\\s+', ' ', 'g')),
                 '^(A |An |The |This is a |This is an |This is the |Definition: |Description: )',
                 '') AS stripped
        FROM documents
      )
    )
    """,
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    """P4 clean_description as a native chain (utils/helpers.py:8-36)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", clean_description_col(F.col("text")).alias("cleaned"))


@_q(
    "q05_cache_key",
    """
    SELECT event_id,
           sha256(lower(trim(event_type)) || '|' ||
                  upper(trim(props)) || '|' || 'bioportal') AS cache_key
    FROM events
    WHERE event_id % 37 = 0
    """,
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """P8 sha-256 cache key (cache/cache_manager.py:41-54)."""
    e = _t(spark, sf, "events")
    return e.where(F.col("event_id") % 37 == 0).select(
        "event_id",
        cache_key_col(F.col("event_type"), F.col("props"), F.lit("bioportal")).alias(
            "cache_key"
        ),
    )


_CURIE_VALUES = [
    "NCIT:C3833", "HP:0003388", "MONDO:0005015", "DOID:0080600",
    "SIO:001331", "FOO:12345", "no_colon_passthrough", "GO:0008150",
]

@_q(
    "q06_curie_expand",
    """
    WITH v(curie) AS (VALUES
      ('NCIT:C3833'), ('HP:0003388'), ('MONDO:0005015'), ('DOID:0080600'),
      ('SIO:001331'), ('FOO:12345'), ('no_colon_passthrough'), ('GO:0008150'))
    SELECT curie,
           CASE WHEN NOT contains(curie, ':') THEN curie
                ELSE CASE split_part(curie, ':', 1)
                       WHEN 'NCIT'  THEN 'http://purl.obolibrary.org/obo/NCIT_'
                       WHEN 'HP'    THEN 'http://purl.obolibrary.org/obo/HP_'
                       WHEN 'MONDO' THEN 'http://purl.obolibrary.org/obo/MONDO_'
                       WHEN 'DOID'  THEN 'http://purl.obolibrary.org/obo/DOID_'
                       WHEN 'ICO'   THEN 'http://purl.obolibrary.org/obo/ICO_'
                       WHEN 'SIO'   THEN 'http://semanticscience.org/resource/SIO_'
                       WHEN 'OMIT'  THEN 'http://purl.obolibrary.org/obo/OMIT_'
                       WHEN 'SCDO'  THEN 'http://purl.obolibrary.org/obo/SCDO_'
                       ELSE 'http://purl.obolibrary.org/obo/' || split_part(curie, ':', 1) || '_'
                     END || substr(curie, position(':' in curie) + 1)
           END AS iri
    FROM v
    """,
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """P5 CURIE→IRI expansion (core/schema_parser.py:213-233)."""
    df = spark.createDataFrame([(c,) for c in _CURIE_VALUES], ["curie"])
    return df.select("curie", curie_to_iri_col(F.col("curie")).alias("iri"))


# ---------------------------------------------------------------------------
# joins (J-group)
# ---------------------------------------------------------------------------


@_q(
    "q07_comparator_inner",
    """
    WITH bp AS (
      SELECT lower(p_type) AS label_key, min(p_partkey) AS uri
      FROM part WHERE p_size <= 25 GROUP BY 1),
    ols AS (
      SELECT lower(p_type) AS label_key, min(p_partkey) AS uri
      FROM part WHERE p_size > 20 GROUP BY 1)
    SELECT bp.label_key AS label, bp.uri AS bioportal_uri, ols.uri AS ols_uri,
           (bp.uri = ols.uri) AS uri_match
    FROM bp JOIN ols USING (label_key)
    """,
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    """J1 comparator inner join on normalized label + uri_match flag
    (services/comparator.py:27-44)."""
    p = _t(spark, sf, "part")
    bp = (
        p.where(F.col("p_size") <= 25)
        .groupBy(norm_label_col(F.col("p_type")).alias("label_key"))
        .agg(F.min("p_partkey").alias("uri"))
    )
    ols = (
        p.where(F.col("p_size") > 20)
        .groupBy(norm_label_col(F.col("p_type")).alias("label_key"))
        .agg(F.min("p_partkey").alias("uri"))
    )
    return (
        bp.alias("b")
        .join(ols.alias("o"), "label_key")
        .select(
            F.col("label_key").alias("label"),
            F.col("b.uri").alias("bioportal_uri"),
            F.col("o.uri").alias("ols_uri"),
            (F.col("b.uri") == F.col("o.uri")).alias("uri_match"),
        )
    )


@_q(
    "q08_left_anti",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """J2/U2 left-anti difference (services/comparator.py:47-54)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@_q(
    "q09_left_semi",
    """
    SELECT count(*) AS n_parts_with_lines
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """J4 left-semi membership join (core/parser.py:119)."""
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi")
        .agg(F.count("*").alias("n_parts_with_lines"))
    )


_STRATEGY_ROWS = [
    ("AMERICA", "america,new world", "MONDO,HP"),
    ("EUROPE", "europe,old world", "NCIT"),
    ("ASIA", "asia", "GO,CHEBI"),
]

@_q(
    "q10_broadcast_default",
    """
    WITH strat(key, variants, onts) AS (VALUES
      ('AMERICA','america,new world','MONDO,HP'),
      ('EUROPE','europe,old world','NCIT'),
      ('ASIA','asia','GO,CHEBI'))
    SELECT r.r_name,
           coalesce(s.variants, lower(r.r_name)) AS variants,
           coalesce(s.onts, 'MONDO,HP,NCIT') AS onts
    FROM region r LEFT JOIN strat s ON r.r_name = s.key
    """,
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """J3 broadcast left join + coalesce defaults (core/lookup.py:26-29)."""
    r = _t(spark, sf, "region")
    strat = spark.createDataFrame(_STRATEGY_ROWS, ["key", "variants", "onts"])
    return (
        r.join(F.broadcast(strat), r["r_name"] == strat["key"], "left")
        .select(
            "r_name",
            F.coalesce("variants", F.lower("r_name")).alias("variants"),
            F.coalesce("onts", F.lit("MONDO,HP,NCIT")).alias("onts"),
        )
    )


@_q(
    "q11_priority_dedup",
    """
    SELECT p_type, p_partkey, p_brand
    FROM (
      SELECT p_type, p_partkey, p_brand,
             row_number() OVER (
               PARTITION BY p_type
               ORDER BY CASE WHEN p_brand < 'Brand#30' THEN 0 ELSE 1 END,
                        p_partkey) AS rn
      FROM part)
    WHERE rn = 1
    """,
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """D2 deterministic priority dedup as a window rank, not dropDuplicates
    (core/lookup.py:68-87 first-seen-URI/BP-priority semantics)."""
    from .operators.topk import priority_dedup

    p = _t(spark, sf, "part")
    out = priority_dedup(
        p.select("p_type", "p_partkey", "p_brand"),
        key_cols=["p_type"],
        priority=F.when(F.col("p_brand") < "Brand#30", 0).otherwise(1),
        tiebreak_cols=["p_partkey"],
    )
    return out.select("p_type", "p_partkey", "p_brand")


@_q(
    "q12_synonym_dedup",
    """
    WITH words AS (
      SELECT doc_id, w, idx
      FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS idx
        FROM documents)
      WHERE trim(w) <> ''
    ), firsts AS (
      SELECT doc_id, lower(trim(w)) AS form, min(idx) AS first_idx
      FROM words
      WHERE length(lower(trim(w))) >= 3
      GROUP BY 1, 2
    ), kept AS (
      SELECT f.doc_id, trim(w.w) AS syn
      FROM firsts f JOIN words w
        ON w.doc_id = f.doc_id AND w.idx = f.first_idx
    )
    SELECT doc_id, syn,
           CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY length(syn), lower(syn)) AS INT) - 1 AS pos
    FROM kept
    QUALIFY pos < 3
    """,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """D3 synonym dedup: first-occurrence-wins, ≥3 chars, (len,lower) sort,
    top-3 (utils/helpers.py:39-73 + core/generator.py:283) — the Spark side
    is the single native array expression used by the triple generator."""
    d = _t(spark, sf, "documents")
    syns = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("synonyms")
    ).select(
        "doc_id", F.posexplode(top_synonyms_col(F.col("synonyms"), 3)).alias("pos", "syn")
    )
    return syns.select("doc_id", "syn", F.col("pos").cast("int").alias("pos"))


# ---------------------------------------------------------------------------
# aggregations / sorts / set ops (A-, T-, U-groups)
# ---------------------------------------------------------------------------


@_q(
    "q13_groupby_count",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """A1 count per source/service (services/comparator.py:18-19)."""
    return _t(spark, sf, "events").groupBy("event_type").agg(F.count("*").alias("n"))


@_q(
    "q14_sum_nested_sizes",
    """
    SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words
    FROM documents GROUP BY lang
    """,
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """A3 sum of nested list sizes (core/schema_parser.py:95,209)."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("total_words"))
    )


@_q(
    "q15_tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """Headline hash-agg (TPC-H Q1 shape) — exact decimal arithmetic then
    one deterministic cast to double; partial+final agg split is free
    (SURVEY.md §4.3)."""
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "q16_composite_sort",
    """
    SELECT p_partkey, p_name
    FROM part
    ORDER BY length(p_name), lower(p_name), p_partkey
    LIMIT 20
    """,
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """T1 composite (len, lower) sort + T2 limit (utils/helpers.py:71,
    core/lookup.py:66). Total order via p_partkey tiebreak."""
    p = _t(spark, sf, "part")
    return (
        p.select("p_partkey", "p_name")
        .orderBy(F.length("p_name"), F.lower("p_name"), "p_partkey")
        .limit(20)
    )


@_q(
    "q17_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rank
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3
    """,
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """T2 per-group top-k as window rank (SURVEY.md T2)."""
    from .operators.topk import grouped_topk

    o = _t(spark, sf, "orders")
    out = grouped_topk(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_cols=["o_custkey"],
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("int").alias("rank")
    )


@_q(
    "q18_array_slice",
    """
    SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS head3
    FROM documents
    """,
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """T3 head-3 slice (core/generator.py:283)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3)).alias("head3"),
    )


@_q(
    "q19_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    """U1 set intersection (services/comparator.py:31)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@_q(
    "q20_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """U2 set difference (services/comparator.py:47-54)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT, matching the SQL (not exceptAll)


@_q(
    "q21_union_counts",
    """
    SELECT side, count(*) AS n FROM (
      SELECT 'bp' AS side, c_name AS name FROM customer
      UNION ALL
      SELECT 'ols' AS side, s_name AS name FROM supplier)
    GROUP BY side
    """,
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """U3 bag union with source tags (core/lookup.py:68-87 BP+OLS concat)."""
    c = _t(spark, sf, "customer").select(
        F.lit("bp").alias("side"), F.col("c_name").alias("name")
    )
    s = _t(spark, sf, "supplier").select(
        F.lit("ols").alias("side"), F.col("s_name").alias("name")
    )
    return c.unionByName(s).groupBy("side").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# windows / sessions (§2.8 — new for transcripts) and classifier (C-group)
# ---------------------------------------------------------------------------


@_q(
    "q22_stable_order_window",
    """
    SELECT user_id, event_id,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS turn_no,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
    FROM events
    """,
)
def q22(spark, sf):
    """Stable per-partition ordering + lag — the (conv_id, turn_idx)
    invariant machinery (BASELINE.json:input_hint; SURVEY.md §2.8)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("turn_no"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
        ).alias("gap_us"),
    )


@_q(
    "q23_alignment_classifier",
    """
    WITH pairs AS (
      SELECT p_partkey,
             lower(p_type) ||
               CASE p_size % 3 WHEN 0 THEN ' disease'
                               WHEN 1 THEN ' manifestation' ELSE '' END AS label,
             CASE p_size % 5 WHEN 0 THEN 'symptom' WHEN 1 THEN 'sign'
                             WHEN 2 THEN 'disease' WHEN 3 THEN 'disorder'
                             ELSE replace(lower(p_type), ' ', '_') END AS key
      FROM part)
    SELECT p_partkey, label, key,
      CASE
        WHEN label = replace(key, '_', ' ') THEN 'exact'
        WHEN contains(label, replace(key, '_', ' '))
          OR contains(replace(key, '_', ' '), label) THEN 'close'
        WHEN (contains(label,'disease') OR contains(label,'disorder')
           OR contains(label,'condition') OR contains(label,'syndrome'))
          AND key IN ('symptom','sign') THEN 'broader'
        WHEN (contains(label,'symptom') OR contains(label,'sign')
           OR contains(label,'manifestation'))
          AND key IN ('disease','disorder') THEN 'narrower'
        ELSE 'related'
      END AS alignment
    FROM pairs
    """,
)
def q23(spark, sf):
    """C1 determine_alignment_type parity vs an independent SQL
    implementation (utils/helpers.py:76-105) — the P/R-gate classifier."""
    p = _t(spark, sf, "part")
    label = F.concat(
        F.lower("p_type"),
        F.when(F.col("p_size") % 3 == 0, F.lit(" disease"))
        .when(F.col("p_size") % 3 == 1, F.lit(" manifestation"))
        .otherwise(F.lit("")),
    )
    key = (
        F.when(F.col("p_size") % 5 == 0, F.lit("symptom"))
        .when(F.col("p_size") % 5 == 1, F.lit("sign"))
        .when(F.col("p_size") % 5 == 2, F.lit("disease"))
        .when(F.col("p_size") % 5 == 3, F.lit("disorder"))
        .otherwise(F.translate(F.lower("p_type"), " ", "_"))
    )
    pairs = p.select("p_partkey", label.alias("label"), key.alias("key"))
    return pairs.select(
        "p_partkey",
        "label",
        "key",
        alignment_type_col(
            F.col("label"), F.array().cast("array<string>"), F.col("key")
        ).alias("alignment"),
    )


@_q(
    "q24_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id
    """,
)
def q24(spark, sf):
    """Sessionization via gap>30min cut — the batch equivalent of a
    session window (SURVEY.md §2.8)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("new_session").alias("n_sessions")
    )


# ---------------------------------------------------------------------------
# dedup family (D-group + training-data near-dup)
# ---------------------------------------------------------------------------


@_q(
    "q25_exact_dedup",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents
    GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
    """,
)
def q25(spark, sf):
    """Exact dedup by normalized-content hash; min-id representative."""
    d = _t(spark, sf, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id", "dup_count")


_MINHASH_N, _MINHASH_BANDS = 8, 4


def _minhash_oracle_sql(n: int = _MINHASH_N, bands: int = _MINHASH_BANDS) -> str:
    """Mirror of minhash_slice_cols + banding: h_i = min of the 8-hex-char
    slice k of md5(j ':' shingle) with (j, k) = divmod(i, 4)."""
    mins = ", ".join(
        f"min(substr(md5('{i // 4}:' || sh), {8 * (i % 4) + 1}, 8)) AS h{i}"
        for i in range(n)
    )
    rpb = n // bands
    banded = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || '|' || ".join(f"h{b * rpb + r}" for r in range(rpb))
        + ") AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH words AS (
      SELECT DISTINCT doc_id, w || ' ' || lead_w AS sh
      FROM (SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM (SELECT doc_id,
                         unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w,
                         generate_subscripts(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),1) AS idx
                  FROM documents))
      WHERE lead_w IS NOT NULL),
    sig AS (
      SELECT doc_id, {mins}
      FROM words GROUP BY doc_id),
    banded AS (
      {banded})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """


@_q("q26_minhash_lsh_pairs", _minhash_oracle_sql())
def q26(spark, sf):
    """MinHash+LSH near-dup candidate pairs (shingle→minhash→band→bucket
    join) over word-bigram shingles (at corpus scale use shingle_n=3+;
    unigrams over the tiny test vocabulary collide to near-all-pairs)."""
    d = _t(spark, sf, "documents")
    sig = minhash_signatures(d, "text", "doc_id", num_hashes=_MINHASH_N, shingle_n=2)
    return minhash_band_pairs(sig, "doc_id", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS)


@_q(
    "q27_ngram_jaccard",
    """
    WITH grams AS (
      SELECT DISTINCT doc_id,
             w || ' ' || lead_w AS sh
      FROM (SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM (SELECT doc_id,
                         unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w,
                         generate_subscripts(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),1) AS idx
                  FROM documents))
      WHERE lead_w IS NOT NULL),
    kept AS (
      SELECT g.doc_id, g.sh FROM grams g
      JOIN (SELECT sh FROM grams GROUP BY sh
            HAVING count(*) <= least(200,
                     ceil(0.2 * (SELECT count(DISTINCT doc_id)
                                 FROM documents)))) s
        ON g.sh = s.sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.10
    """,
)
def q27(spark, sf):
    """Exact bigram-Jaccard near-dup via inverted index with the composed
    stop-shingle cap: fractional (0.2 — 'too common' rescales with corpus
    size) bounded by an absolute ceiling (200 — keeps each shingle's
    quadratic join contribution constant as the corpus grows)."""
    d = _t(spark, sf, "documents")
    out = ngram_jaccard_pairs(
        d, "text", "doc_id", shingle_n=2, threshold=0.10,
        max_df=200, max_df_frac=0.2,
    )
    return out.select("id_a", "id_b", "n_common", "n_a", "n_b")


def _simhash_sig_ctes(src: str = "documents") -> str:
    """Generated mirror of operators.dedup.simhash_hex as CTE text ending
    in `sig(doc_id, simhash_hex)`: 64 per-bit majority votes from md5-hex
    nibbles, recomposed into the same 16-char hex. `src` is the table/CTE
    holding (doc_id, text)."""
    votes = ",\n             ".join(
        f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), {b // 4 + 1}, 1)) - 1)"
        f" & {1 << (3 - b % 4)}) <> 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    chars = " || ".join(
        "substr('0123456789abcdef', ("
        + " + ".join(
            f"(CASE WHEN v{4 * i + k} > 0 THEN {wgt} ELSE 0 END)"
            for k, wgt in zip(range(4), (8, 4, 2, 1))
        )
        + ") + 1, 1)"
        for i in range(16)
    )
    return f"""
    tok AS (
      SELECT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w
            FROM {src})
      WHERE w <> ''),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, {chars} AS simhash_hex FROM votes)
    """


@_q("q28_simhash", f"WITH {_simhash_sig_ctes()} SELECT doc_id, simhash_hex FROM sig")
def q28(spark, sf):
    """SimHash-64 content signatures (near-dup by hamming distance) in the
    md5 hash family so the DuckDB oracle can mirror bit-for-bit; the
    xxhash64 bigint variant (simhash64) remains the cheapest scale path."""
    from .operators.dedup import simhash_hex

    d = _t(spark, sf, "documents")
    return simhash_hex(d, "text", "doc_id")


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------


@_q(
    "q29_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec) * 1e6)
                  AS BIGINT) AS cosine_micro
      FROM embeddings e CROSS JOIN q)
    SELECT query_id, vec_id, cosine_micro, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_micro DESC, vec_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def q29(spark, sf):
    """Brute-force cosine top-k (ANN baseline): broadcast query side, native
    zip_with/aggregate dot products, micro-rounded before ranking so the
    order is identical across engines."""
    from .operators.similarity import cosine_cols

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(
            cosine_cols(
                F.col("embedding").cast("array<double>"),
                F.col("_qvec").cast("array<double>"),
            )
            * 1e6
        )
        .cast("bigint")
        .alias("cosine_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )


_LSH_PLANES, _LSH_TABLES, _EMB_DIM = 4, 4, 64  # embeddings are 64-dim at every sf


def _lsh_bucket_sql_expr(
    n_planes: int = _LSH_PLANES, dim: int = _EMB_DIM, plane_offset: int = 0
) -> str:
    """Generated mirror of operators.similarity lsh buckets: per plane, a
    SIGNED-INTEGER micro-fixed-point dot with the same md5-derived ±1
    components (exact arithmetic — no float-sum ordering sensitivity).
    `plane_offset` selects an LSH table's plane range."""
    from .operators.similarity import plane_signs

    all_signs = plane_signs(plane_offset + n_planes, dim)
    terms = []
    for p in range(n_planes):
        signs = all_signs[plane_offset + p]
        body = " ".join(
            ("+" if sgn > 0 else "-")
            + f" CAST(round(CAST(embedding[{i + 1}] AS DOUBLE)*1e6) AS BIGINT)"
            for i, sgn in enumerate(signs)
        )
        terms.append(
            f"(CASE WHEN (0 {body}) > 0 THEN {1 << (n_planes - 1 - p)} ELSE 0 END)"
        )
    return " + ".join(terms)


def _q30_oracle_sql() -> str:
    buckets = ",\n             ".join(
        f"{_lsh_bucket_sql_expr(plane_offset=t * _LSH_PLANES)} AS b{t}"
        for t in range(_LSH_TABLES)
    )
    cand_union = "\n      UNION ALL ".join(
        f"SELECT q.query_id, m.vec_id, m.embedding, q.qvec "
        f"FROM bucketed m JOIN q ON m.b{t} = q.b{t}"
        for t in range(_LSH_TABLES)
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             {buckets}
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, *
          FROM bucketed WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT query_id, vec_id, embedding, qvec FROM (
      {cand_union})),
    joined AS (
      SELECT query_id, vec_id,
             CAST(round(list_cosine_similarity(embedding::DOUBLE[],
                                               qvec::DOUBLE[]) * 1e6)
                  AS BIGINT) AS cosine_micro
      FROM cand)
    SELECT query_id, vec_id, cosine_micro, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_micro DESC, vec_id) AS rnk
          FROM joined)
    WHERE rnk <= 5
    """


@_q("q30_lsh_topk", _q30_oracle_sql())
def q30(spark, sf):
    """Multi-table LSH approximate top-k (the scale path for q29): 4
    tables × 4 hyperplanes — a pair is a candidate if it collides in ANY
    table (the standard recall lever; measured recall@5 vs the exact q29:
    see tests/test_ann_recall.py). Exact-oracled: bucket bits are integer
    micro-dot signs against literal md5-derived hyperplanes, reproduced
    verbatim in the DuckDB SQL."""
    from .operators.similarity import lsh_bucketed_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucketed_topk(
        e, q, dim=_EMB_DIM, k=5, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES
    )


# ---------------------------------------------------------------------------
# text analysis (training-data pipeline ops)
# ---------------------------------------------------------------------------


@_q(
    "q31_text_stats",
    """
    SELECT doc_id,
           len(words) AS n_words,
           CAST(round(
             (len(list_filter(words, w -> list_contains(
               ['the','a','an','and','or','of','to','in','is','for','on',
                'with','at','by','from','as','that','this','it','be'], w)))
              / CAST(len(words) AS DOUBLE)) * 1e6) AS BIGINT) AS stop_micro
    FROM (
      SELECT doc_id,
             list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),
                         w -> w <> '') AS words
      FROM documents)
    """,
)
def q31(spark, sf):
    """Quality-scoring inputs: token counts + stopword ratio (micro-fixed-
    point so the float division hashes identically)."""
    d = _t(spark, sf, "documents")
    s = with_text_stats(d, "text")
    return s.select(
        "doc_id",
        "n_words",
        F.round(F.col("stopword_ratio") * 1e6).cast("bigint").alias("stop_micro"),
    )


@_q(
    "q32_fingerprint",
    """
    SELECT doc_id,
           sha256(array_to_string(
             list_sort(list_distinct(
               list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),
                           w -> w <> ''))), ' ')) AS sha256
    FROM documents
    """,
)
def q32(spark, sf):
    """Order-independent document fingerprint (sorted distinct words)."""
    d = _t(spark, sf, "documents")
    return with_fingerprint(d, "text").select("doc_id", "sha256")


@_q(
    "q33_token_count",
    """
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def q33(spark, sf):
    """Token counting with a BPE-ish regex, aggregated per language."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.sum(token_count_col(F.col("text"))).alias("total_tokens")
    )


# ---------------------------------------------------------------------------
# mention detection / co-mention / connected components (KG core, oracled)
# ---------------------------------------------------------------------------

_DEMO_PATTERNS = [
    "hash join", "sort merge", "table scan", "batch stream",
    "window", "filter", "stream", "group", "vector", "spark",
]

@_q(
    "q34_mention_detect",
    """
    WITH pat(p) AS (VALUES
      ('hash join'),('sort merge'),('table scan'),('batch stream'),
      ('window'),('filter'),('stream'),('group'),('vector'),('spark')),
    words AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS idx
            FROM documents)
      WHERE w <> ''),
    cand AS (
      SELECT doc_id, w AS span FROM words
      UNION ALL
      SELECT doc_id, w || ' ' || lead_w AS span
      FROM (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM words)
      WHERE lead_w IS NOT NULL)
    SELECT doc_id, span AS pattern, count(*) AS n_mentions
    FROM cand JOIN pat ON span = p
    GROUP BY doc_id, span
    """,
)
def q34(spark, sf):
    """THE flagship operator: Aho-Corasick mention detection via broadcast
    automaton + mapInPandas (SURVEY.md C4), cross-checked against a
    unigram/bigram SQL oracle — validates automaton construction, failure
    links, and word-boundary handling."""
    from .pipeline.mention_detect import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    m = detect_mentions(spark, d, _DEMO_PATTERNS)
    return (
        m.groupBy(F.col("conv_id").cast("bigint").alias("doc_id"), "pattern")
        .agg(F.count("*").alias("n_mentions"))
    )


@_q(
    "q35_comention_edges",
    """
    WITH pat(p) AS (VALUES
      ('hash join'),('sort merge'),('table scan'),('batch stream'),
      ('window'),('filter'),('stream'),('group'),('vector'),('spark')),
    words AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS idx
            FROM documents)
      WHERE w <> ''),
    cand AS (
      SELECT doc_id, w AS span FROM words
      UNION ALL
      SELECT doc_id, w || ' ' || lead_w AS span
      FROM (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM words)
      WHERE lead_w IS NOT NULL),
    ment AS (SELECT DISTINCT doc_id, span FROM cand JOIN pat ON span = p)
    SELECT a.span AS entity_a, b.span AS entity_b, count(*) AS n_comentions
    FROM ment a JOIN ment b ON a.doc_id = b.doc_id AND a.span < b.span
    GROUP BY 1, 2
    """,
)
def q35(spark, sf):
    """J8 co-mention edges (same-turn window) over detected mentions."""
    from .pipeline.comention import comention_edges
    from .pipeline.mention_detect import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    m = detect_mentions(spark, d, _DEMO_PATTERNS)
    return comention_edges(m, window_turns=0, entity_col="pattern")


@_q(
    "q36_connected_components",
    """
    WITH edges AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
      WHERE a.p_partkey % 7 <> 0),
    nodes AS (SELECT u AS node FROM edges UNION SELECT v FROM edges)
    SELECT node, node - ((node - 1) % 7) AS component
    FROM nodes
    WHERE node - ((node - 1) % 7) >= (SELECT min(node) FROM nodes)
    """,
)
def q36(spark, sf):
    """C6 connected components (iterative hash-to-min) on a chain graph
    whose ground-truth components have a closed form — validates the loop,
    convergence, and determinism of the canonicalizer."""
    from .pipeline.canonicalize import LOCAL_CC_THRESHOLD, connected_components

    p = _t(spark, sf, "part").select("p_partkey")
    a = p.alias("a")
    b = p.alias("b")
    edges = (
        a.join(b, F.col("b.p_partkey") == F.col("a.p_partkey") + 1)
        .where(F.col("a.p_partkey") % 7 != 0)
        .select(
            F.col("a.p_partkey").alias("src_iri"), F.col("b.p_partkey").alias("dst_iri")
        )
    )
    # CC operates on strings (IRIs); zero-pad so lexicographic min == numeric min
    edges_s = edges.select(
        F.lpad(F.col("src_iri").cast("string"), 10, "0").alias("src_iri"),
        F.lpad(F.col("dst_iri").cast("string"), 10, "0").alias("dst_iri"),
    )
    # size-gated local fast path (identical labels, no lineage-cut floor);
    # graphs past the gate fall through to the distributed loop, which the
    # log-diameter property tests pin directly
    comp = connected_components(edges_s, local_threshold=LOCAL_CC_THRESHOLD)
    return comp.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


@_q(
    "q37_variant_expand",
    """
    WITH strat(key, variants) AS (VALUES
      ('Disease','disease,medical condition,disorder'),
      ('Symptom','symptom,clinical sign,phenotype'),
      ('long_covid','long covid,post-covid,post covid syndrome,covid-19 sequelae'),
      ('fatigue','fatigue,chronic fatigue,tiredness,exhaustion,post-exertional malaise'))
    SELECT key, unnest(string_split(variants, ',')) AS variant FROM strat
    """,
)
def q37(spark, sf):
    """C2 query-variant expansion via explode (config/ontologies.py:47-80,
    core/lookup.py:43-58)."""
    rows = [
        ("Disease", "disease,medical condition,disorder"),
        ("Symptom", "symptom,clinical sign,phenotype"),
        ("long_covid", "long covid,post-covid,post covid syndrome,covid-19 sequelae"),
        ("fatigue", "fatigue,chronic fatigue,tiredness,exhaustion,post-exertional malaise"),
    ]
    df = spark.createDataFrame(rows, ["key", "variants"])
    return df.select("key", F.explode(F.split("variants", ",")).alias("variant"))


@_q(
    "q38_sssom_rows",
    """
    WITH pairs AS (
      SELECT p_partkey,
             lower(p_type) ||
               CASE p_size % 3 WHEN 0 THEN ' disease'
                               WHEN 1 THEN ' manifestation' ELSE '' END AS label,
             CASE p_size % 5 WHEN 0 THEN 'symptom' WHEN 1 THEN 'sign'
                             WHEN 2 THEN 'disease' WHEN 3 THEN 'disorder'
                             ELSE replace(lower(p_type), ' ', '_') END AS key
      FROM part WHERE p_partkey % 10 = 0),
    classified AS (
      SELECT *,
        CASE
          WHEN label = replace(key, '_', ' ') THEN 'skos:exactMatch'
          WHEN contains(label, replace(key, '_', ' '))
            OR contains(replace(key, '_', ' '), label) THEN 'skos:closeMatch'
          WHEN (contains(label,'disease') OR contains(label,'disorder')
             OR contains(label,'condition') OR contains(label,'syndrome'))
            AND key IN ('symptom','sign') THEN 'skos:broadMatch'
          WHEN (contains(label,'symptom') OR contains(label,'sign')
             OR contains(label,'manifestation'))
            AND key IN ('disease','disorder') THEN 'skos:narrowMatch'
          ELSE 'skos:relatedMatch'
        END AS predicate_id
      FROM pairs)
    SELECT 'EX:' || key AS subject_id,
           replace(key, '_', ' ') AS subject_label,
           predicate_id,
           'PART:' || p_partkey AS object_id,
           label AS object_label,
           'semapv:ManualMappingCuration' AS mapping_justification,
           '2026-08-16' AS mapping_date
    FROM classified
    """,
)
def q38(spark, sf):
    """K3 SSSOM sink shape: the 7 mapping columns with C1-chosen predicate
    (core/generator.py:141-185), mapping_date as a fixed run parameter."""
    from .functions.align import alignment_predicate_col

    p = _t(spark, sf, "part").where(F.col("p_partkey") % 10 == 0)
    label = F.concat(
        F.lower("p_type"),
        F.when(F.col("p_size") % 3 == 0, F.lit(" disease"))
        .when(F.col("p_size") % 3 == 1, F.lit(" manifestation"))
        .otherwise(F.lit("")),
    )
    key = (
        F.when(F.col("p_size") % 5 == 0, F.lit("symptom"))
        .when(F.col("p_size") % 5 == 1, F.lit("sign"))
        .when(F.col("p_size") % 5 == 2, F.lit("disease"))
        .when(F.col("p_size") % 5 == 3, F.lit("disorder"))
        .otherwise(F.translate(F.lower("p_type"), " ", "_"))
    )
    pairs = p.select("p_partkey", label.alias("label"), key.alias("key"))
    pred = alignment_predicate_col(
        F.col("label"), F.array().cast("array<string>"), F.col("key")
    )
    # in this mapping context the reference never falls through to seeAlso
    # (C1 always returns one of the five classes); keep relatedMatch default
    return pairs.select(
        F.concat(F.lit("EX:"), F.col("key")).alias("subject_id"),
        F.translate("key", "_", " ").alias("subject_label"),
        pred.alias("predicate_id"),
        F.concat(F.lit("PART:"), F.col("p_partkey")).alias("object_id"),
        F.col("label").alias("object_label"),
        F.lit("semapv:ManualMappingCuration").alias("mapping_justification"),
        F.lit("2026-08-16").alias("mapping_date"),
    )


@_q(
    "q39_windowed_event_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q39(spark, sf):
    """Tumbling-window aggregation (batch form of a streaming hourly
    window; Structured Streaming uses the identical expression)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# KG pipeline, fully oracled (VERDICT r1 item 1): documents act as
# single-turn transcripts, the dictionary/xrefs come from kg_fixture, and
# the DuckDB side mirrors detection in SQL (q34 idiom + character spans)
# joined to the decision table / components recomputed independently in
# plain Python at import time (kg_fixture.decision_rows/canonical_rows).
# ---------------------------------------------------------------------------

from . import kg_fixture as _kgf


def _kg_fixture_links(spark, sf):
    from .pipeline import Dictionary, detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    dictionary = Dictionary(_kgf.terms_df(spark))
    mentions = detect_mentions(spark, d, dictionary.patterns)
    return dictionary.link(mentions)


@_q(
    "kg_links_transcripts",
    f"""
    WITH {_kgf.DETECT_CTES},
    {_kgf.decision_values_sql()}
    SELECT c.doc_id AS conv_id, 0 AS turn_idx, c.begin, c."end",
           c.span AS surface, d.pattern, d.class_iri, d.source, d.match_via,
           d.alignment, d.predicate, d.ols_only, d.rank, d.score_micro
    FROM cand c JOIN dec d ON c.span = d.pattern
    """,
)
def kg_links(spark, sf):
    """Full mention-detect + link-score (the per-turn production path:
    broadcast automaton + broadcast rank_dictionary decision table) over
    `documents`, exact-oracled against SQL detection × the Python-mirrored
    decision table."""
    links = _kg_fixture_links(spark, sf)
    return links.select(
        F.col("conv_id").cast("bigint").alias("conv_id"),
        "turn_idx", "begin", "end", "surface", "pattern", "class_iri",
        "source", "match_via", "alignment", "predicate", "ols_only", "rank",
        F.round(F.col("score") * 1e6).cast("bigint").alias("score_micro"),
    )


@_q(
    "kg_triples_transcripts",
    f"""
    WITH {_kgf.DETECT_CTES},
    {_kgf.decision_values_sql()},
    matched AS (SELECT DISTINCT c.span AS pattern FROM cand c
                JOIN dec d ON c.span = d.pattern),
    mdec AS (SELECT d.* FROM dec d JOIN matched m ON d.pattern = m.pattern),
    tr AS (
      SELECT '{_kgf.LOCAL_NS}' || concept_key AS subj, predicate AS pred,
             class_iri AS obj, 'uri' AS obj_type,
             CAST(NULL AS VARCHAR) AS lang
      FROM mdec
      UNION ALL
      SELECT '{_kgf.LOCAL_NS}' || concept_key, 'skos:inScheme',
             '{_kgf.BP_ONT_NS}' || ontology, 'uri', CAST(NULL AS VARCHAR)
      FROM mdec
      UNION ALL
      SELECT '{_kgf.LOCAL_NS}' || concept_key, 'dcterms:source',
             '{_kgf.BP_ONT_NS}' || ontology, 'uri', CAST(NULL AS VARCHAR)
      FROM mdec
      UNION ALL
      SELECT '{_kgf.LOCAL_NS}' || concept_key, 'skos:prefLabel', label,
             'literal', 'en'
      FROM mdec WHERE trim(coalesce(label, '')) <> ''
      UNION ALL
      SELECT '{_kgf.LOCAL_NS}' || concept_key, 'skos:altLabel', syn,
             'literal', 'en'
      FROM (SELECT concept_key, unnest([syn1, syn2, syn3]) AS syn FROM mdec)
      WHERE syn IS NOT NULL)
    SELECT DISTINCT subj, pred, obj, obj_type, lang FROM tr
    UNION ALL
    SELECT DISTINCT
           '{_kgf.LOCAL_NS}alignment_' ||
             substr(sha256('{_kgf.LOCAL_NS}' || concept_key || '|' || class_iri),
                    1, 16) AS subj,
           'dcterms:created' AS pred, '{_kgf.RUN_TS}' AS obj,
           'literal' AS obj_type, CAST(NULL AS VARCHAR) AS lang
    FROM mdec
    """,
)
def kg_triples(spark, sf):
    """Materialized (subj, pred, obj) triples with reference vocabulary
    (core/generator.py:243-295 template incl. provenance rows), exact-
    oracled end-to-end through detect → link → extract_triples."""
    from .pipeline.materialize import extract_triples

    links = _kg_fixture_links(spark, sf)
    return extract_triples(links, run_ts=_kgf.RUN_TS)


@_q(
    "kg_canonical_entities",
    f"""
    WITH {_kgf.canonical_values_sql()}
    SELECT class_iri, canonical_iri FROM canon
    """,
)
def kg_canonical(spark, sf):
    """Connected-components canonicalization over the fixture xref graph
    (chain + hub + external-min + isolated nodes), exact-oracled against an
    independent Python BFS."""
    from .pipeline.canonicalize import canonical_mapping

    return canonical_mapping(_kgf.terms_df(spark), _kgf.xrefs_df(spark))


def _q40_oracle_sql() -> str:
    """Byte-histogram mirror of multimodal.deterministic_fake_features:
    documents.text is ASCII by construction, so bytes == characters; the
    float32 truncation the Arrow FEATURE_SCHEMA applies is mirrored with
    an explicit REAL cast before micro-rounding."""
    cs = ",\n             ".join(
        f"sum(CASE WHEN bucket = {k} THEN 1 ELSE 0 END) AS c{k}" for k in range(8)
    )
    fs = ",\n           ".join(
        f"CAST(round(CAST(CAST(c{k} AS DOUBLE)/total AS REAL) * 1e6) AS BIGINT)"
        f" AS f{k}_micro"
        for k in range(8)
    )
    return f"""
    WITH ch AS (
      SELECT doc_id, ascii(substr(text, i, 1)) % 8 AS bucket
      FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) u),
    hist AS (
      SELECT doc_id, count(*) AS total,
             {cs}
      FROM ch GROUP BY doc_id)
    SELECT d.doc_id AS media_id,
           CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             ELSE 'video' END AS kind,
           CAST(length(d.text) AS INT) AS n_bytes,
           {fs}
    FROM documents d JOIN hist h ON h.doc_id = d.doc_id
    """


@_q("q40_media_features", _q40_oracle_sql())
def q40(spark, sf):
    """Multimodal plumbing: binary payloads → deterministic fake features
    via mapInPandas (real schema/batching; decode itself is the stub).
    Features surface as per-dim micro-fixed-point bigints — hashable by
    the driver's canonicalizer AND exactly mirrored by the SQL oracle."""
    from .operators.multimodal import extract_media_features

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.length("text") * 100).cast("int").alias("duration_ms"),
    )
    feats = extract_media_features(media, dim=8, use_fake=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[
            F.round(F.element_at("feature", k + 1).cast("double") * 1e6)
            .cast("bigint")
            .alias(f"f{k}_micro")
            for k in range(8)
        ],
    )


# ---------------------------------------------------------------------------
# remaining §2 operators: J5 map join, D1 distinct, A2 counts, C3 defaults
# ---------------------------------------------------------------------------

_BP_ONT_VALUES = [
    "MONDO,HP,FOO", "GO , chebi", "NCIT", "UNKNOWN1,UNKNOWN2", "SYMP,PRO,DOID",
]

@_q(
    "q41_bp_ols_name_map",
    """
    WITH v(onts) AS (VALUES
      ('MONDO,HP,FOO'), ('GO , chebi'), ('NCIT'), ('UNKNOWN1,UNKNOWN2'),
      ('SYMP,PRO,DOID')),
    m(bp, ols) AS (VALUES
      ('MONDO','mondo'),('HP','hp'),('GO','go'),('CHEBI','chebi'),
      ('NCIT','ncit'),('DOID','doid'),('SYMP','symp'),('PRO','pr')),
    exploded AS (
      SELECT onts, upper(trim(u.acr)) AS acr, u.i
      FROM v, LATERAL (SELECT unnest(string_split(onts, ',')) AS acr,
                              generate_subscripts(string_split(onts, ','), 1) AS i) u)
    SELECT e.onts, coalesce(string_agg(m.ols, ',' ORDER BY e.i), '') AS converted
    FROM exploded e LEFT JOIN m ON e.acr = m.bp
    GROUP BY e.onts
    """,
)
def q41(spark, sf):
    """J5 BioPortal→OLS acronym translation: broadcast map join, unknown
    acronyms DROPPED, order preserved (services/ols.py:86-91,
    config/ontologies.py:83-92; oracle parity also pinned against
    oracle.semantics.convert_ontologies in tests)."""
    from .oracle.semantics import BP_TO_OLS

    v = spark.createDataFrame([(o,) for o in _BP_ONT_VALUES], ["onts"])
    pairs = []
    for bp, ols in BP_TO_OLS.items():
        pairs.extend([F.lit(bp), F.lit(ols)])
    m = F.create_map(*pairs)
    converted = F.array_join(
        F.filter(
            F.transform(
                F.split("onts", ","),
                lambda a: F.element_at(m, F.upper(F.trim(a))),
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return v.select("onts", converted.alias("converted"))


@_q(
    "q44_full_row_distinct",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q44(spark, sf):
    """D1 full-row distinct after union of per-variant results
    (core/lookup.py:49-58)."""
    return _t(spark, sf, "events").select("user_id", "event_type").distinct()


@_q(
    "q45_comparison_counts",
    """
    WITH bp AS (
      SELECT lower(p_type) AS label_key, min(p_partkey) AS uri
      FROM part WHERE p_size <= 25 GROUP BY 1),
    ols AS (
      SELECT lower(p_type) AS label_key, min(p_partkey) AS uri
      FROM part WHERE p_size > 20 GROUP BY 1)
    SELECT
      (SELECT count(*) FROM bp) AS bioportal_count,
      (SELECT count(*) FROM ols) AS ols_count,
      (SELECT count(*) FROM bp JOIN ols USING (label_key)) AS common_count,
      (SELECT count(*) FROM bp ANTI JOIN ols USING (label_key)) AS bp_only_count,
      (SELECT count(*) FROM ols ANTI JOIN bp USING (label_key)) AS ols_only_count,
      (SELECT count(*) FROM bp JOIN ols USING (label_key)
        WHERE bp.uri <> ols.uri) AS uri_mismatch_count
    """,
)
def q45(spark, sf):
    """A2 comparator summary counts (common/only/mismatch — the inputs to
    the reference's discrepancy messages, services/comparator.py:57-69) as
    ONE job: full-outer join + a single conditional aggregation (the
    comparison_counts operator), not six driver-side actions."""
    from .operators.comparator import comparison_counts

    p = _t(spark, sf, "part")
    bp = (
        p.where(F.col("p_size") <= 25)
        .groupBy(F.lower("p_type").alias("label"))
        .agg(F.min("p_partkey").alias("uri"))
    )
    ols = (
        p.where(F.col("p_size") > 20)
        .groupBy(F.lower("p_type").alias("label"))
        .agg(F.min("p_partkey").alias("uri"))
    )
    return comparison_counts(bp, ols)


@_q(
    "q46_default_relationship",
    """
    SELECT p_partkey,
           CASE WHEN p_size % 2 = 0 THEN 'instance' ELSE 'class' END AS category,
           CASE WHEN p_size % 2 = 0 THEN 'owl:sameAs' ELSE 'rdfs:seeAlso' END
             AS relationship
    FROM part WHERE p_partkey % 25 = 0
    """,
)
def q46(spark, sf):
    """C3 relationship default tagging: owl:sameAs for instances,
    rdfs:seeAlso otherwise (cli/interface.py:556)."""
    p = _t(spark, sf, "part").where(F.col("p_partkey") % 25 == 0)
    category = F.when(F.col("p_size") % 2 == 0, "instance").otherwise("class")
    rel = F.when(category == "instance", "owl:sameAs").otherwise(
        F.lit("rdfs:seeAlso")
    )
    return p.select(
        "p_partkey", category.alias("category"), rel.alias("relationship")
    )


@_q(
    "q47_embedding_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(round(list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]) * 1e6)
                AS BIGINT) AS cosine_micro
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.35
    """,
)
def q47(spark, sf):
    """Embedding-cosine near-dup pairs (training-data dedup family) via the
    guarded exact_neardup_pairs operator: the all-pairs form is the
    sf-scale oracle and now REFUSES corpora above its row bound (VERDICT
    r1 'what's wrong' #3) — the scale paths are q30/q48/q26."""
    from .operators.similarity import exact_neardup_pairs

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    return exact_neardup_pairs(e, threshold=0.35)


@_q(
    "q48_ivf_topk",
    """
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
               AS centroid_id,
             embedding AS cvec
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 16),
    assigned AS (
      SELECT vec_id, embedding, list_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id AS list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CAST(round(list_cosine_similarity(
                            e.embedding::DOUBLE[], c.cvec::DOUBLE[]) * 1e6)
                          AS BIGINT) DESC,
                          c.centroid_id) AS r
        FROM embeddings e CROSS JOIN cent c)
      WHERE r = 1),
    probes AS (
      SELECT query_id, qvec, list_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec,
               c.centroid_id AS list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CAST(round(list_cosine_similarity(
                            e.embedding::DOUBLE[], c.cvec::DOUBLE[]) * 1e6)
                          AS BIGINT) DESC,
                          c.centroid_id) AS r
        FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 10)
      WHERE r <= 4),
    joined AS (
      SELECT p.query_id, a.vec_id,
             CAST(round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               p.qvec::DOUBLE[]) * 1e6)
                  AS BIGINT) AS cosine_micro
      FROM assigned a JOIN probes p ON a.list_id = p.list_id)
    SELECT query_id, vec_id, cosine_micro, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_micro DESC, vec_id) AS rnk
          FROM joined)
    WHERE rnk <= 5
    """,
)
def q48(spark, sf):
    """IVF-style ANN — exact-oracled: centroids picked by md5(id) string
    rank, assignment and ranking on micro-fixed-point cosine with
    centroid_id/vec_id tiebreaks, all mirrored in the DuckDB SQL."""
    from .operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, q, n_centroids=16, nprobe=4, k=5)


@_q(
    "q49_asof_join",
    """
    WITH snap AS (
      SELECT o_custkey AS k, o_orderdate AS rts,
             CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS snap_price,
             count(*) AS snap_orders
      FROM orders GROUP BY 1, 2),
    ev AS (SELECT user_id AS k, event_id, ts FROM events WHERE event_id % 11 = 0)
    SELECT ev.k AS user_id, ev.event_id,
           snap.snap_price AS asof_snap_price,
           snap.snap_orders AS asof_snap_orders,
           strftime(snap.rts, '%Y-%m-%d %H:%M:%S') AS asof_ts_s
    FROM ev ASOF LEFT JOIN snap
      ON ev.k = snap.k AND ev.ts >= snap.rts
    """,
)
def q49(spark, sf):
    """As-of join (custom operator — Spark has no native one): each event
    picks the latest order snapshot at-or-before its timestamp; DuckDB's
    native ASOF JOIN is the oracle. Right side deduped to unique
    (key, ts) as as-of state tables require."""
    from .operators.asof import asof_join

    snap = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("rts"))
        .agg(
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("snap_price"),
            F.count("*").alias("snap_orders"),
        )
    )
    ev = (
        _t(spark, sf, "events")
        .where(F.col("event_id") % 11 == 0)
        .select(F.col("user_id").alias("k"), "event_id", "ts")
    )
    joined = asof_join(
        ev, snap, on="k", left_ts="ts", right_ts="rts",
        value_cols=["snap_price", "snap_orders"],
    )
    return joined.select(
        F.col("k").alias("user_id"),
        "event_id",
        "asof_snap_price",
        "asof_snap_orders",
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("asof_ts_s"),
    )


@_q(
    "q50_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q50(spark, sf):
    """Hierarchical rollup (absent from the reference — SURVEY.md §2.4;
    present here because corpus reporting needs subtotal cubes)."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@_q(
    "q51_lang_guess",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(words, w -> list_contains(['the','and','of'], w))) AS en_hits,
             len(list_filter(words, w -> list_contains(['der','die','und'], w))) AS de_hits,
             len(list_filter(words, w -> list_contains(['le','la','et'], w))) AS fr_hits,
             len(list_filter(words, w -> list_contains(['el','los','que'], w))) AS es_hits
      FROM (SELECT doc_id, lang,
                   list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),
                               w -> w <> '') AS words
            FROM documents))
    SELECT doc_id, lang,
           CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
                WHEN es_hits >= greatest(en_hits, de_hits, fr_hits) THEN 'es'
                WHEN fr_hits >= greatest(en_hits, de_hits) THEN 'fr'
                WHEN de_hits >= en_hits THEN 'de'
                ELSE 'en' END AS lang_guess
    FROM scored
    """,
)
def q51(spark, sf):
    """n-gram/stopword-cue language ID (training-data text analysis).

    Tie policy pinned down on both sides: the Spark struct max carries an
    explicit priority (later cue order wins: es > fr > de > en); the SQL
    mirrors it with the >= cascade in reverse cue order."""
    from .operators.textstats import with_lang_guess

    d = _t(spark, sf, "documents")
    return with_lang_guess(d, "text").select("doc_id", "lang", "lang_guess")


@_q(
    "q52_json_extract",
    """
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY 1
    """,
)
def q52(spark, sf):
    """Semi-structured column handling: JSON props extraction (nested/open
    metadata — the candidates table's MapType analogue, SURVEY.md §1.5)."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.sum(k).alias("sum_k"))
    )


@_q(
    "q53_rolling_window_frame",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_sum3,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rolling_n3
    FROM events
    """,
)
def q53(spark, sf):
    """Analytic frame spec (ROWS BETWEEN): 3-row rolling sum per user over
    the stable (ts, event_id) order — decimal arithmetic for exact hash."""
    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("rolling_sum3"),
        F.count("*").over(w).alias("rolling_n3"),
    )


@_q(
    "q54_exact_percentiles",
    """
    SELECT event_type,
           CAST(round(quantile_cont(value, 0.5) * 1e6) AS BIGINT) AS p50_micro,
           CAST(round(quantile_cont(value, 0.9) * 1e6) AS BIGINT) AS p90_micro
    FROM events GROUP BY event_type
    """,
)
def q54(spark, sf):
    """Exact linear-interpolated percentiles per group (Spark `percentile`
    == DuckDB `quantile_cont`), micro-rounded to absorb the one
    interpolation multiply."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)) * 1e6).cast("bigint").alias("p50_micro"),
        F.round(F.percentile("value", F.lit(0.9)) * 1e6).cast("bigint").alias("p90_micro"),
    )


_ONT_TRIPLES = [
    ("http://example.org/ontology#Disease", "rdf:type", "rdfs:Class"),
    ("http://example.org/ontology#Symptom", "rdf:type", "rdfs:Class"),
    ("http://example.org/ontology#Entity", "rdf:type", "rdfs:Class"),
    ("http://example.org/ontology#long_covid", "rdf:type",
     "http://example.org/ontology#Disease"),
    ("http://example.org/ontology#fatigue", "rdf:type",
     "http://example.org/ontology#Symptom"),
    ("http://example.org/ontology#orphan", "rdf:type",
     "http://example.org/ontology#NotAClass"),
    ("http://other.org/x", "rdf:type", "http://other.org/SomeClass"),
    ("http://example.org/ontology#Disease", "rdfs:label", "Disease"),
]

@_q(
    "q55_ontology_concepts",
    """
    WITH triples(subj, pred, obj) AS (VALUES
      ('http://example.org/ontology#Disease', 'rdf:type', 'rdfs:Class'),
      ('http://example.org/ontology#Symptom', 'rdf:type', 'rdfs:Class'),
      ('http://example.org/ontology#Entity', 'rdf:type', 'rdfs:Class'),
      ('http://example.org/ontology#long_covid', 'rdf:type',
       'http://example.org/ontology#Disease'),
      ('http://example.org/ontology#fatigue', 'rdf:type',
       'http://example.org/ontology#Symptom'),
      ('http://example.org/ontology#orphan', 'rdf:type',
       'http://example.org/ontology#NotAClass'),
      ('http://other.org/x', 'rdf:type', 'http://other.org/SomeClass'),
      ('http://example.org/ontology#Disease', 'rdfs:label', 'Disease')),
    classes AS (
      SELECT DISTINCT split_part(subj, '#', -1) AS class_name
      FROM triples
      WHERE pred IN ('rdf:type', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
        AND obj IN ('rdfs:Class', 'http://www.w3.org/2000/01/rdf-schema#Class')
        AND split_part(subj, '#', -1) <> 'Entity')
    SELECT class_name AS key, translate(class_name, '_', ' ') AS label,
           class_name AS type, 'class' AS category
    FROM classes
    UNION ALL
    SELECT DISTINCT split_part(t.subj, '#', -1) AS key,
           translate(split_part(t.subj, '#', -1), '_', ' ') AS label,
           split_part(t.obj, '#', -1) AS type, 'instance' AS category
    FROM triples t JOIN classes c ON split_part(t.obj, '#', -1) = c.class_name
    WHERE t.pred IN ('rdf:type', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
      AND starts_with(t.obj, 'http://example.org/ontology#')
    """,
)
def q55(spark, sf):
    """Ontology concept extraction: F1-F3 filters + P1/P2 projections + J4
    left-semi class membership (core/parser.py:105-133), cross-checked on
    a literal triple set covering the Entity exclusion, foreign-namespace
    exclusion, and orphan-instance exclusion."""
    from .pipeline.parse_ontology import extract_concepts

    triples = spark.createDataFrame(_ONT_TRIPLES, ["subj", "pred", "obj"])
    return extract_concepts(triples)


@_q(
    "q56_tpch_q3_shape",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC,
             l_orderkey
    LIMIT 10
    """,
)
def q56(spark, sf):
    """TPC-H Q3 shape: 3-way join + filtered scan + top-10 by exact decimal
    revenue (Catalyst picks broadcast for the filtered customer side; the
    ORDER BY runs on the exact decimal so both engines rank identically)."""
    c = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("_rev"))
        .orderBy(F.col("_rev").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("_rev").cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_s"),
            "o_orderpriority",
        )
    )


@_q(
    "q57_tpch_q5_shape",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q57(spark, sf):
    """TPC-H Q5 shape: 5-way star join rooted at a pruned region — the
    dim chain broadcasts; only orders⋈lineitem shuffles."""
    r = _t(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        r.join(n, n["n_regionkey"] == r["r_regionkey"])
        .join(c, c["c_nationkey"] == n["n_nationkey"])
        .join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("n_name")
        .agg(rev.cast("double").alias("revenue"), F.count("*").alias("n_lines"))
    )


@_q(
    "q58_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END
             + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END AS grp_level,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q58(spark, sf):
    """Full cube over (returnflag, linestatus) with an explicit grouping
    level so NULL-as-subtotal rows hash unambiguously."""
    li = _t(spark, sf, "lineitem")
    lvl = (
        F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)
        + F.when(F.col("l_linestatus").isNull(), 1).otherwise(0)
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select("l_returnflag", "l_linestatus", lvl.alias("grp_level"), "n")
    )


@_q(
    "q59_quality_score",
    """
    WITH w AS (
      SELECT doc_id, text,
             list_filter(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),
                         x -> x <> '') AS words
      FROM documents),
    s AS (
      SELECT doc_id,
             len(words) AS n_words,
             len(list_filter(words, x -> list_contains(
               ['the','a','an','and','or','of','to','in','is','for','on',
                'with','at','by','from','as','that','this','it','be'], x)))
               AS n_stop,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             length(text) AS n_chars
      FROM w)
    SELECT doc_id,
           CAST(round((
             least(CAST(n_words AS DOUBLE) / 2.0, 40.0)
             + least((CASE WHEN n_words > 0
                           THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END) * 200.0, 40.0)
             + (CASE WHEN (CASE WHEN n_chars > 0
                                THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) <= 0.1
                     THEN 20.0
                     ELSE greatest(0.0, 20.0 - (CASE WHEN n_chars > 0
                          THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END) * 100.0)
                END)
           ) * 1000) AS BIGINT) AS quality_milli
    FROM s
    """,
)
def q59(spark, sf):
    """Composite quality score (length + stopword + punctuation bands),
    milli-rounded — validates the whole float expression chain of
    with_quality_score against an independently-written SQL mirror."""
    from .operators.textstats import with_quality_score

    d = _t(spark, sf, "documents")
    return with_quality_score(d, "text").select(
        "doc_id",
        F.round(F.col("quality_score") * 1000).cast("bigint").alias("quality_milli"),
    )


@_q(
    "q60_ontology_acronym",
    """
    SELECT p_partkey,
           coalesce(regexp_extract(
             list_filter(
               ['http://example.org/nothing/' || p_partkey,
                'http://data.bioontology.org/ontologies/' ||
                  upper(substr(p_name, 1, 4)) || '/classes/' || p_partkey,
                'http://data.bioontology.org/ontologies/WRONG/late'],
               x -> contains(x, '/ontologies/'))[1],
             '.*/ontologies/([^/]*)', 1), '') AS acronym
    FROM part WHERE p_partkey % 50 = 0
    """,
)
def q60(spark, sf):
    """P6 ontology-acronym extraction from API link arrays
    (services/bioportal.py:73-77: first link containing '/ontologies/'
    wins, acronym = segment after the LAST '/ontologies/'). Links are
    synthesized from `part` so the first-match and non-match branches both
    occur."""
    from .functions.keys import ontology_acronym_col

    p = _t(spark, sf, "part").where(F.col("p_partkey") % 50 == 0)
    links = F.array(
        F.concat(F.lit("http://example.org/nothing/"), F.col("p_partkey")),
        F.concat(
            F.lit("http://data.bioontology.org/ontologies/"),
            F.upper(F.substring("p_name", 1, 4)),
            F.lit("/classes/"),
            F.col("p_partkey"),
        ),
        F.lit("http://data.bioontology.org/ontologies/WRONG/late"),
    )
    return p.select(
        "p_partkey", ontology_acronym_col(links).alias("acronym")
    )


def _q61_oracle_sql() -> str:
    nib = lambda c, i: f"(strpos('0123456789abcdef', substr({c}, {i + 1}, 1)) - 1)"
    hamming = " + ".join(
        f"bit_count(xor({nib('ha', i)}, {nib('hb', i)}))" for i in range(16)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, regexp_replace(text, '^\\S+ ', '') FROM documents),
    {_simhash_sig_ctes('corpus')},
    bands AS (
      SELECT doc_id, simhash_hex, b.band_id,
             substr(simhash_hex, 4 * b.band_id + 1, 4) AS band_val
      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_id) b),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash_hex AS ha, b.simhash_hex AS hb
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST({hamming} AS INT) AS hamming
    FROM pairs
    WHERE {hamming} <= 8
    """


@_q("q61_simhash_neardup", _q61_oracle_sql())
def q61(spark, sf):
    """SimHash near-dup pairs via the classic 4x16-bit banded hamming join
    (Manku et al. WWW'07). Near-dups are synthesized by unioning each
    document with a first-word-dropped mutant, so real candidate pairs
    exist; the DuckDB oracle replays the identical md5 signature, banding,
    and per-nibble XOR popcount."""
    from .operators.dedup import simhash_neardup_pairs

    d = _t(spark, sf, "documents").select("doc_id", "text")
    mut = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+ ", "").alias("text"),
    )
    return simhash_neardup_pairs(d.unionByName(mut), max_hamming=8)


@_q(
    "q62_hash_split",
    """
    SELECT CASE
             WHEN substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < 'cccccccd' THEN 'train'
             WHEN substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'valid'
             ELSE 'test'
           END AS split,
           count(*) AS n_docs,
           min(doc_id) AS min_id
    FROM documents GROUP BY 1
    """,
)
def q62(spark, sf):
    """Deterministic group-aware train/valid/test split: md5(salt|key)
    hex8 compared against cumulative-fraction hex thresholds — no RNG
    state, identical under any partitioning or engine (the DuckDB oracle
    embeds the same thresholds: 0.8*2^32=0xcccccccd, 0.9*2^32=0xe6666666)."""
    from .operators.split import train_test_split

    d = _t(spark, sf, "documents")
    return (
        train_test_split(d, "doc_id")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_id"))
    )


@_q(
    "q63_repetition",
    """
    WITH grams AS (
      SELECT doc_id, length(norm) AS n_chars, w || ' ' || lead_w AS gram
      FROM (SELECT doc_id, norm, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM (SELECT doc_id,
                         lower(trim(regexp_replace(text,'\\s+',' ','g'))) AS norm,
                         unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w,
                         generate_subscripts(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),1) AS idx
                  FROM documents))
      WHERE lead_w IS NOT NULL),
    counts AS (
      SELECT doc_id, n_chars, gram, count(*) AS cnt
      FROM grams GROUP BY 1, 2, 3),
    ranked AS (
      SELECT doc_id, n_chars, gram, cnt,
             sum(cnt) OVER (PARTITION BY doc_id) AS n_grams,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, gram) AS r
      FROM counts)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, gram AS top_gram, cnt AS top_count,
           CAST(round(cnt * length(gram) / n_chars * 1e6) AS BIGINT)
             AS rep_micro
    FROM ranked WHERE r = 1
    """,
)
def q63(spark, sf):
    """Gopher-style repetition filter input: character fraction of the most
    frequent word bigram per document (top-n-gram fraction family from
    Rae et al. 2021), micro-rounded; total-order tiebreak on the gram."""
    from .operators.textstats import repetition_stats

    d = _t(spark, sf, "documents")
    return repetition_stats(d, "text", "doc_id", ngram_n=2)


def _q64_oracle_sql() -> str:
    """Transitive near-dup clustering over the q26 candidate pairs via a
    DuckDB recursive CTE (closure + min-reachable) — an independent CC
    implementation cross-checking the engine's iterative hash-to-min."""
    body = _minhash_oracle_sql()
    # reuse the q26 SQL as a subquery producing (id_a, id_b)
    return f"""
    WITH RECURSIVE pairs AS ({body}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (
      SELECT u AS doc_id, least(min(v), u) AS cluster_rep
      FROM reach GROUP BY u)
    SELECT doc_id, cluster_rep FROM comp
    """


@_q("q64_dedup_clusters", _q64_oracle_sql())
def q64(spark, sf):
    """Dedup clustering: transitive closure of MinHash-LSH candidate pairs
    (A~B, B~C => one cluster, min-id representative) via the engine's
    iterative CC, cross-checked against a DuckDB WITH RECURSIVE closure —
    a fully independent connected-components implementation."""
    from .operators.dedup import dedup_clusters

    d = _t(spark, sf, "documents")
    sig = minhash_signatures(d, "text", "doc_id", num_hashes=_MINHASH_N, shingle_n=2)
    pairs = minhash_band_pairs(
        sig, "doc_id", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    return dedup_clusters(pairs)


@_q(
    "q65_stratified_sample",
    """
    WITH ranked AS (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_id,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM ranked
    WHERE rn <= ceil(n * 0.25)
    GROUP BY lang
    """,
)
def q65(spark, sf):
    """Exact deterministic stratified sampling: per-language 25% quota via
    an md5-ordered window rank (byte-stable counts, unlike Bernoulli
    sampleBy — training-data lineage needs reproducible per-source
    quotas). Summarized per stratum so the oracle compares counts, the
    min id, and the id-sum of the selected set."""
    from .operators.split import stratified_sample

    d = _t(spark, sf, "documents")
    s = stratified_sample(d, "lang", "doc_id", 0.25)
    return s.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.sum("doc_id").cast("bigint").alias("sum_ids"),
    )


@_q(
    "q66_perplexity",
    r"""
    WITH toks AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w,
                   generate_subscripts(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),1) AS idx
            FROM documents)
      WHERE length(w) > 0),
    bg0 AS (
      SELECT doc_id, w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
      FROM toks),
    bg AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
    c1 AS (SELECT w1, count(*) AS c_ctx FROM bg GROUP BY 1),
    c12 AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2),
    v AS (SELECT count(DISTINCT w) AS v FROM toks),
    nll AS (
      SELECT c12.w1, c12.w2,
             CAST(round(-ln((c12.c_bg + 1.0) / (c1.c_ctx + v.v)) * 1e6)
                  AS BIGINT) AS nll_micro
      FROM c12 JOIN c1 USING (w1) CROSS JOIN v)
    SELECT bg.doc_id, count(*) AS n_bigrams,
           CAST(sum(nll.nll_micro) AS BIGINT) AS nll_micro_sum,
           CAST(floor(sum(nll.nll_micro) / count(*)) AS BIGINT)
             AS nll_avg_micro
    FROM bg JOIN nll ON bg.w1 = nll.w1 AND bg.w2 = nll.w2
    GROUP BY 1
    """,
)
def q66(spark, sf):
    """Perplexity-proxy quality score (CCNet/Gopher LM-surprise family):
    per-doc NLL under an add-one-smoothed bigram LM trained on the corpus
    itself. Hash-exact by construction: the per-bigram -ln(p) is
    micro-fixed-pointed once per DISTINCT bigram from exact integer counts,
    then integer-summed per doc — no raw double accumulation."""
    from .operators.textstats import bigram_nll

    d = _t(spark, sf, "documents")
    return bigram_nll(d, "text", "doc_id")


@_q(
    "q67_decontaminate",
    r"""
    WITH norm AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text,'\s+',' ','g'))) AS t,
             len(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS nw
      FROM documents),
    toks AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(t,' ')) AS w,
                   generate_subscripts(string_split(t,' '),1) AS idx
            FROM norm)),
    grams3 AS (
      SELECT doc_id, w || ' ' || w1 || ' ' || w2 AS gram
      FROM (SELECT doc_id, w,
                   lead(w)    OVER win AS w1,
                   lead(w, 2) OVER win AS w2
            FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY idx))
      WHERE w1 IS NOT NULL AND w2 IS NOT NULL),
    small AS (SELECT doc_id, t AS gram FROM norm WHERE nw < 3 AND t <> ''),
    allg AS (SELECT DISTINCT doc_id, gram
             FROM (SELECT * FROM grams3 UNION ALL SELECT * FROM small)),
    bench AS (SELECT DISTINCT gram FROM allg WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, gram FROM allg WHERE doc_id % 97 <> 0)
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM corpus c JOIN bench b USING (gram)
    GROUP BY 1
    """,
)
def q67(spark, sf):
    """Benchmark decontamination (GPT-3 appendix-C / PaLM / Llama n-gram
    collision screening): docs sharing any word 3-gram with the benchmark
    set (here: every 97th doc) are flagged with their distinct-overlap
    count. Inverted-index join on the shingle key — never all-pairs."""
    from .operators.decontaminate import contamination_report

    d = _t(spark, sf, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return contamination_report(corpus, bench, "text", "doc_id", shingle_n=3)


@_q(
    "q68_percentile_trim",
    """
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS r,
             count(*)    OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM ranked
    WHERE r >= ceil(n * 0.1) AND r <= ceil(n * 0.9)
    GROUP BY lang
    """,
)
def q68(spark, sf):
    """Exact per-language length-percentile trim (CCNet/Gopher-style
    outlier removal, p10-p90), deterministic by construction: rank under
    the total order (n_chars, doc_id) instead of approx_percentile's
    partitioning-dependent sketch. One shuffle on lang; both windows
    share it."""
    from .operators.textstats import percentile_trim

    d = _t(spark, sf, "documents")
    return (
        percentile_trim(d, "n_chars", by="lang", lower=0.1, upper=0.9)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _q69_oracle_sql(n_tables: int = 2, multi_probe: int = 4) -> str:
    buckets = ",\n             ".join(
        f"{_lsh_bucket_sql_expr(plane_offset=t * _LSH_PLANES)} AS b{t}"
        for t in range(n_tables)
    )
    probe_lists = {
        t: ", ".join(
            [f"q.b{t}"] + [f"xor(q.b{t}, {1 << j})" for j in range(multi_probe)]
        )
        for t in range(n_tables)
    }
    cand_union = "\n      UNION ALL ".join(
        f"SELECT q.query_id, m.vec_id, m.embedding, q.qvec "
        f"FROM bucketed m JOIN q ON m.b{t} IN ({probe_lists[t]})"
        for t in range(n_tables)
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             {buckets}
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, *
          FROM bucketed WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT query_id, vec_id, embedding, qvec FROM (
      {cand_union})),
    joined AS (
      SELECT query_id, vec_id,
             CAST(round(list_cosine_similarity(embedding::DOUBLE[],
                                               qvec::DOUBLE[]) * 1e6)
                  AS BIGINT) AS cosine_micro
      FROM cand)
    SELECT query_id, vec_id, cosine_micro, CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_micro DESC, vec_id) AS rnk
          FROM joined)
    WHERE rnk <= 5
    """


@_q("q69_multiprobe_lsh", _q69_oracle_sql())
def q69(spark, sf):
    """Multi-Probe LSH top-k (Lv et al. VLDB'07): HALF of q30's tables
    (2 × 4 planes) but each query additionally probes the 4 buckets one
    hyperplane-flip away — recall like more tables at a fraction of the
    index memory (probes scale the query side only). Measured recall@5
    vs brute force at sf0.01: 2 tables 0.52 → +probes 0.84, beating 4
    tables/no probes (0.60) with half the indexed rows; 4 tables+probes
    = 0.92 (tests/test_ann_recall.py). Probe set = bucket XOR 2^j,
    integer-exact in both engines."""
    from .operators.similarity import lsh_bucketed_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucketed_topk(
        e, q, dim=_EMB_DIM, k=5, n_planes=_LSH_PLANES, n_tables=2,
        multi_probe=4,
    )


@_q(
    "q70_dupspan",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')
               AS toks
      FROM documents),
    sized AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(toks[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(n_tokens - 2, 0) + 1)) AS i
            FROM sized)),
    dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT doc_id, p
      FROM (SELECT g.doc_id, unnest(range(g.pos, g.pos + 3)) AS p
            FROM grams g JOIN dupg USING (gram))),
    agg AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(round(coalesce(a.dup_tokens, 0) / s.n_tokens * 1e6) AS BIGINT)
             AS dup_frac_micro
    FROM sized s LEFT JOIN agg a USING (doc_id)
    """,
)
def q70(spark, sf):
    """Exact-substring duplication coverage (Lee et al. 2022): fraction of
    token positions per document covered by a word 3-gram occurring >= 2
    times corpus-wide. Span-level counterpart of q25's record-level exact
    dedup (reference core/lookup.py:49-58 dedups whole records only)."""
    from .operators.dedup import dup_span_stats

    d = _t(spark, sf, "documents")
    return dup_span_stats(d, "text", "doc_id", ngram_n=3, min_count=2)


@_q(
    "q71_semdedup",
    """
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
               AS centroid_id,
             embedding AS cvec
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 16),
    assigned AS (
      SELECT vec_id, embedding, list_id, cent_sim_micro FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id AS list_id,
               CAST(round(list_cosine_similarity(
                      e.embedding::DOUBLE[], c.cvec::DOUBLE[]) * 1e6)
                    AS BIGINT) AS cent_sim_micro,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CAST(round(list_cosine_similarity(
                            e.embedding::DOUBLE[], c.cvec::DOUBLE[]) * 1e6)
                          AS BIGINT) DESC,
                          c.centroid_id) AS r
        FROM embeddings e CROSS JOIN cent c)
      WHERE r = 1),
    half AS (
      SELECT a.vec_id AS id_a, a.cent_sim_micro AS cs_a,
             b.vec_id AS id_b, b.cent_sim_micro AS cs_b
      FROM assigned a JOIN assigned b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE CAST(round(list_cosine_similarity(
                   a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1e6)
                 AS BIGINT) >= 350000),
    directed AS (
      SELECT id_a AS me, cs_a AS cs_me, id_b AS other, cs_b AS cs_other
      FROM half
      UNION ALL
      SELECT id_b, cs_b, id_a, cs_a FROM half),
    dom AS (
      SELECT me, count(*) AS n_similar,
             max(CASE WHEN cs_other < cs_me
                        OR (cs_other = cs_me AND other < me)
                      THEN 1 ELSE 0 END) AS dominated
      FROM directed GROUP BY me)
    SELECT a.vec_id,
           CAST(a.list_id AS INT) AS list_id,
           a.cent_sim_micro,
           CAST(coalesce(d.n_similar, 0) AS BIGINT) AS n_similar,
           coalesce(d.dominated, 0) = 0 AS keep
    FROM assigned a LEFT JOIN dom d ON a.vec_id = d.me
    """,
)
def q71(spark, sf):
    """SemDeDup (Abbas et al. 2023): md5-ranked deterministic centroids
    (same quantizer as q48), within-cluster pairwise micro-cosine, remove
    the member of each similar pair that sits CLOSER to the centroid
    (ties by id) — keep/n_similar per vector, all integer-exact."""
    from .operators.similarity import semdedup

    e = _t(spark, sf, "embeddings")
    return semdedup(e, threshold=0.35, n_centroids=16)


@_q(
    "q72_pmi_edges",
    """
    WITH pat(p) AS (VALUES
      ('hash join'),('sort merge'),('table scan'),('batch stream'),
      ('window'),('filter'),('stream'),('group'),('vector'),('spark')),
    words AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS idx
            FROM documents)
      WHERE w <> ''),
    cand AS (
      SELECT doc_id, w AS span FROM words
      UNION ALL
      SELECT doc_id, w || ' ' || lead_w AS span
      FROM (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM words)
      WHERE lead_w IS NOT NULL),
    ment AS (SELECT DISTINCT doc_id, span FROM cand JOIN pat ON span = p),
    nn AS (SELECT count(DISTINCT doc_id) AS n FROM ment),
    cnt AS (SELECT span, count(*) AS n_units FROM ment GROUP BY 1),
    pairs AS (
      SELECT a.span AS entity_a, b.span AS entity_b, count(*) AS n_ab
      FROM ment a JOIN ment b ON a.doc_id = b.doc_id AND a.span < b.span
      GROUP BY 1, 2)
    SELECT p.entity_a, p.entity_b,
           CAST(ca.n_units AS BIGINT) AS n_a,
           CAST(cb.n_units AS BIGINT) AS n_b,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(round(ln((p.n_ab * nn.n) / (ca.n_units * cb.n_units)) * 1e6)
                AS BIGINT) AS pmi_micro,
           CASE WHEN p.n_ab = nn.n THEN CAST(1000000 AS BIGINT)
                ELSE CAST(round(ln((p.n_ab * nn.n) / (ca.n_units * cb.n_units))
                                / -ln(p.n_ab / nn.n) * 1e6) AS BIGINT)
           END AS npmi_micro
    FROM pairs p
    JOIN cnt ca ON p.entity_a = ca.span
    JOIN cnt cb ON p.entity_b = cb.span
    CROSS JOIN nn
    """,
)
def q72(spark, sf):
    """PMI/NPMI edge weighting over conversation-level co-mentions
    (Church & Hanks 1990 association strength; the KG edge-scoring
    upgrade of q35's raw counts). ln once per distinct edge on an
    integer-count rational, micro-rounded — the q66 discipline."""
    from .pipeline.comention import pmi_comention_edges
    from .pipeline.mention_detect import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    m = detect_mentions(spark, d, _DEMO_PATTERNS)
    return pmi_comention_edges(m, entity_col="pattern", unit_col="conv_id")


@_q(
    "q73_containment",
    """
    WITH grams AS (
      SELECT DISTINCT doc_id,
             w || ' ' || lead_w AS sh
      FROM (SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM (SELECT doc_id,
                         unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w,
                         generate_subscripts(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),1) AS idx
                  FROM documents))
      WHERE lead_w IS NOT NULL),
    kept AS (
      SELECT g.doc_id, g.sh FROM grams g
      JOIN (SELECT sh FROM grams GROUP BY sh
            HAVING count(*) <= least(200,
                     ceil(0.2 * (SELECT count(DISTINCT doc_id)
                                 FROM documents)))) s
        ON g.sh = s.sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b, n_common,
             sa.n_sh AS n_a, sb.n_sh AS n_b,
             CAST(round(n_common / sa.n_sh * 1e6) AS BIGINT) AS cont_a_micro,
             CAST(round(n_common / sb.n_sh * 1e6) AS BIGINT) AS cont_b_micro
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, n_common, n_a, n_b, cont_a_micro, cont_b_micro
    FROM scored
    WHERE cont_a_micro >= 500000 OR cont_b_micro >= 500000
    """,
)
def q73(spark, sf):
    """Broder containment near-dup (Broder 1997): keep a pair when EITHER
    direction's containment |A∩B|/|A| clears the threshold — the
    near-superset case Jaccard misses (q27's complement on the same
    inverted index + stop-shingle caps). Micro-int scores: single
    division then round, the oracle-portable form."""
    from .operators.dedup import ngram_containment_pairs

    d = _t(spark, sf, "documents")
    return ngram_containment_pairs(
        d, "text", "doc_id", shingle_n=2, threshold=0.5,
        max_df=200, max_df_frac=0.2,
    )


@_q(
    "q74_winnow_pairs",
    """
    WITH words AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w,
                   generate_subscripts(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),1) AS idx
            FROM documents)),
    hashed AS (
      SELECT doc_id, idx AS pos, substr(md5(w || ' ' || lead1 || ' ' || lead2), 1, 8) AS h
      FROM (SELECT doc_id, idx, w,
                   lead(w)    OVER (PARTITION BY doc_id ORDER BY idx) AS lead1,
                   lead(w, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS lead2
            FROM words)
      WHERE lead2 IS NOT NULL),
    ng AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
    wins AS (
      SELECT h.doc_id, h.pos, h.h,
             unnest(range(greatest(h.pos - 3, 1), least(h.pos, g.n - 3) + 1)) AS win
      FROM hashed h JOIN ng g USING (doc_id)),
    sel AS (
      SELECT DISTINCT doc_id, pos, h FROM (
        SELECT doc_id, pos, h,
               row_number() OVER (PARTITION BY doc_id, win
                                  ORDER BY h ASC, pos DESC) AS r
        FROM wins)
      WHERE r = 1),
    fps AS (SELECT DISTINCT doc_id, h FROM sel),
    kept AS (
      SELECT f.doc_id, f.h FROM fps f
      JOIN (SELECT h FROM fps GROUP BY h
            HAVING count(*) <= least(200,
                     ceil(0.2 * (SELECT count(DISTINCT doc_id)
                                 FROM documents)))) s
        ON f.h = s.h),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2)
    SELECT id_a, id_b, n_common, sa.n_fp AS n_a, sb.n_fp AS n_b,
           CAST(round(n_common / least(sa.n_fp, sb.n_fp) * 1e6) AS BIGINT)
             AS overlap_micro
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    """,
)
def q74(spark, sf):
    """Robust-winnowing match pairs (Schleimer et al. SIGMOD'03 / MOSS):
    per-window rightmost-min md5 fingerprints, pairs sharing >= 2
    selected fingerprints, overlap coefficient in micro-ints. Catches
    LOCAL verbatim reuse at ~2/(window+1) of q27's index size. Oracle
    window ids are 1-based (DuckDB idx) vs Spark's 0-based positions —
    the SELECTED (gram, hash) set is identical under the shift."""
    from .operators.dedup import winnow_pairs

    d = _t(spark, sf, "documents")
    return winnow_pairs(
        d, "text", "doc_id", shingle_n=3, window=4, min_shared=2,
        max_df=200, max_df_frac=0.2,
    )


@_q(
    "q75_chunking",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')
               AS toks
      FROM documents),
    sized AS (SELECT doc_id, toks, len(toks) AS n FROM base),
    starts AS (
      SELECT doc_id, toks, n,
             unnest(range(0, greatest(n - 1, 0) + 1, 48)) AS start_tok
      FROM sized)
    SELECT doc_id,
           CAST(start_tok / 48 AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least(64, n - start_tok) AS BIGINT) AS n_tok,
           array_to_string(toks[start_tok + 1 : least(start_tok + 64, n)], ' ')
             AS chunk
    FROM starts
    """,
)
def q75(spark, sf):
    """Sliding-window context chunking (max 64 tokens, stride 48 — the
    overlapping long-document training prep). Map-only: words array →
    start sequence → explode → slice; words projected pre-Generate."""
    from .operators.chunking import chunk_documents

    d = _t(spark, sf, "documents")
    return chunk_documents(d, "text", "doc_id", max_tokens=64, stride=48)


def _pack_oracle_sql(seq: int = 256, num_shards: int = 64) -> str:
    nib = lambda i: (
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
    )
    shard = f"(({nib(0)} * 4096 + {nib(1)} * 256 + {nib(2)} * 16 + {nib(3)}) % {num_shards})"
    return f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '))
               AS n_tok,
             {shard} AS shard
      FROM documents),
    ord AS (
      SELECT doc_id, n_tok, shard,
             coalesce(sum(n_tok) OVER (ORDER BY shard, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gs
      FROM d)
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(gs AS BIGINT) AS global_start,
           CAST(gs // {seq} AS BIGINT) AS first_seq,
           CAST((gs + greatest(n_tok, 1) - 1) // {seq} AS BIGINT) AS last_seq,
           CAST((gs + greatest(n_tok, 1) - 1) // {seq} - gs // {seq} + 1 AS BIGINT)
             AS n_seqs
    FROM ord
    """


@_q("q76_seq_packing", _pack_oracle_sql())
def q76(spark, sf):
    """Concat-and-split sequence packing (GPT-style pretraining layout):
    every document's position in the packed 256-token-sequence stream.
    The global exclusive prefix sum is the two-phase DISTRIBUTED form —
    per-shard window cumsum + broadcast shard offsets — never a
    single-partition global window (the oracle's one-window form is the
    semantic spec, not the physical plan)."""
    from .operators.chunking import pack_concat_split

    d = _t(spark, sf, "documents")
    return pack_concat_split(d, "text", "doc_id", seq_tokens=256, num_shards=64)


@_q(
    "q77_bpe_pairs",
    """
    WITH words AS (
      SELECT unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '))
               AS w
      FROM documents),
    vocab AS (
      SELECT w, count(*) AS wf FROM words WHERE w <> '' GROUP BY w),
    syms AS (
      SELECT wf, list_append(regexp_extract_all(w, '.'), '</w>') AS s FROM vocab),
    idx AS (
      SELECT wf, s, unnest(range(1, len(s))) AS i FROM syms),
    pairs AS (
      SELECT wf, s[i] || ' ' || s[i + 1] AS pair FROM idx),
    counts AS (
      SELECT pair, CAST(sum(wf) AS BIGINT) AS n FROM pairs GROUP BY pair)
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
    FROM counts
    QUALIFY rank <= 50
    """,
)
def q77(spark, sf):
    """First-iteration BPE merge statistics (Sennrich et al. 2016): the
    corpus-weighted adjacent-symbol-pair counts a tokenizer-training job
    computes each merge round. Distinct-first: pairs are extracted once
    per DISTINCT word carrying its aggregated corpus frequency (the
    q66/D1 shape), so zipf-hot words cost one row each."""
    from .operators.textstats import bpe_pair_counts

    d = _t(spark, sf, "documents")
    return bpe_pair_counts(d, "text", "doc_id", top_k=50)


_WORD_EDGES_CTE = """
    toks AS (
      SELECT string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    pos AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
    bigr AS (SELECT t[i] AS src, t[i + 1] AS dst FROM pos),
    edges AS (
      SELECT src, dst, count(*) AS w FROM bigr
      WHERE src <> '' AND dst <> ''
      GROUP BY 1, 2 HAVING count(*) >= 3)
"""


def _pagerank_oracle_sql(iterations: int = 3, damping_pct: int = 85) -> str:
    jump = (100 - damping_pct) * 10_000
    its = []
    prev = "r0"
    for k in range(1, iterations + 1):
        its.append(f"""
    it{k} AS (
      SELECT n.node, {jump} + ({damping_pct} * coalesce(m.s, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum((p.r * e.w) // o.ow) AS s
        FROM edges e
        JOIN {prev} p ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) m USING (node))""")
        prev = f"it{k}"
    return f"""
    WITH {_WORD_EDGES_CTE},
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    {",".join(its)}
    SELECT node, CAST(r AS BIGINT) AS rank_micro FROM {prev}
    """


@_q("q78_pagerank", _pagerank_oracle_sql())
def q78(spark, sf):
    """Integer micro-fixed-point PageRank (3 iterations, d=0.85) over
    the word co-occurrence graph — entity centrality for the KG. Every
    step is bigint arithmetic (contrib = rank*w div W_out; integer sums
    are order-independent), so the distributed loop is bit-identical to
    the oracle's unrolled CTEs regardless of partitioning. Rank vector
    broadcast per iteration; edges never shuffle."""
    from .operators.graph import pagerank_micro, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return pagerank_micro(e, "src", "dst", weight_col="weight", iterations=3)


@_q(
    "q79_triangles",
    f"""
    WITH {_WORD_EDGES_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    both_dir AS (
      SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
    deg AS (SELECT a AS node, count(*) AS deg FROM both_dir GROUP BY 1),
    ed AS (
      SELECT f.a, f.b FROM both_dir f
      JOIN deg da ON da.node = f.a
      JOIN deg db ON db.node = f.b
      WHERE (da.deg < db.deg) OR (da.deg = db.deg AND f.a < f.b)),
    closing AS (SELECT least(a, b) AS u, greatest(a, b) AS v FROM ed),
    tris AS (
      SELECT w1.a AS x, w1.b AS u, w2.b AS v
      FROM ed w1 JOIN ed w2 ON w1.a = w2.a AND w1.b < w2.b
      WHERE EXISTS (SELECT 1 FROM closing c WHERE c.u = w1.b AND c.v = w2.b)),
    corners AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT x AS node FROM tris
        UNION ALL SELECT u FROM tris
        UNION ALL SELECT v FROM tris)
      GROUP BY 1)
    SELECT d.node,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN d.deg < 2 THEN 0
                ELSE round(2.0 * coalesce(c.triangles, 0)
                           / (d.deg * (d.deg - 1)) * 1e6) END AS BIGINT)
             AS lcc_micro
    FROM deg d LEFT JOIN corners c ON c.node = d.node
    """,
)
def q79(spark, sf):
    """Per-node triangle counts + local clustering coefficient over the
    undirected word co-occurrence graph. Degree-ordered orientation
    (smaller (deg, node) endpoint first) bounds out-degree by O(sqrt(m))
    so the wedge join survives hubs — the standard scale-out triangle
    algorithm. lcc is the single-division micro ratio 2t/(d(d-1))."""
    from .operators.graph import triangle_stats, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return triangle_stats(e, "src", "dst")


@_q(
    "q80_kmv_distinct",
    """
    WITH d AS (SELECT DISTINCT l_returnflag AS g, l_partkey AS v FROM lineitem),
    h AS (SELECT g, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM d),
    r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
    a AS (SELECT g, count(*) AS n,
                 max(CASE WHEN rn = 128 THEN h END) AS kth
          FROM r GROUP BY g)
    SELECT g AS l_returnflag,
           CAST(n AS BIGINT) AS n_exact,
           CAST(CASE WHEN kth IS NULL THEN n
                ELSE round(127 * pow(2, 60) / kth) END AS BIGINT) AS kmv_est
    FROM a
    """,
)
def q80(spark, sf):
    """KMV distinct-count sketch (k=128) of parts per return flag, next
    to the exact count. The 60-bit md5 hash makes the kth-minimum — and
    therefore the estimate — bit-identical in any engine; groups with
    < k distinct values fall back to the exact count."""
    from .operators.sketch import kmv_distinct

    li = _t(spark, sf, "lineitem")
    return kmv_distinct(li, ["l_returnflag"], "l_partkey", k=128)


def _hll_oracle_sql(b: int = 6) -> str:
    m = 2**b
    rest_bits = 60 - b
    shift = 62 - b
    alpha_num = repr(0.7213 / (1 + 1.079 / m) * m * m * float(2**shift))
    return f"""
    WITH h AS (
      SELECT l_returnflag AS g,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM lineitem),
    p AS (SELECT g, h // {2 ** rest_bits} AS bucket, h % {2 ** rest_bits} AS rest
          FROM h),
    rho AS (SELECT g, bucket,
                   CASE WHEN rest = 0 THEN {rest_bits + 1}
                        ELSE {rest_bits} - length(bin(rest)) + 1 END AS rho
            FROM p),
    regs AS (SELECT g, bucket, max(rho) AS M FROM rho GROUP BY g, bucket),
    sums AS (SELECT g,
                    CAST(sum(CAST(pow(2, {shift} - M) AS BIGINT)) AS BIGINT)
                      AS s_used,
                    count(*) AS n_used
             FROM regs GROUP BY g),
    exact AS (SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS n_exact
              FROM lineitem GROUP BY g)
    SELECT e.g AS l_returnflag,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(round({alpha_num}
                      / (s.s_used + ({m} - s.n_used) * {2 ** shift})) AS BIGINT)
             AS hll_est,
           CAST({m} - s.n_used AS BIGINT) AS n_zero_buckets
    FROM exact e JOIN sums s ON s.g = e.g
    """


@_q("q81_hll_distinct", _hll_oracle_sql())
def q81(spark, sf):
    """Raw HyperLogLog (b=6, 64 registers) distinct orders per return
    flag. Registers come from the shared 60-bit md5 hash (bucket = top
    6 bits, rho = leading zeros of the rest + 1) and the harmonic sum
    is an exact scaled integer, so the whole sketch state is
    reproducible bit-for-bit; the one floating op is the final alpha
    division, identical IEEE in both engines."""
    from .operators.sketch import hll_distinct

    li = _t(spark, sf, "lineitem")
    return hll_distinct(li, ["l_returnflag"], "l_orderkey", b=6)


def _bm25_docs_ctes(
    terms=("hash", "join", "merge", "scan", "stream"),
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """CTE chain (no WITH keyword) ending at docs(doc_id, score_micro) —
    shared by the q82 oracle and fusion consumers like q86."""
    tl = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    k1p1, omb = k1 + 1.0, 1.0 - b
    return f"""qt(w) AS (VALUES {tl}),
    base AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ') AS t
      FROM documents),
    sized AS (
      SELECT doc_id, len(list_filter(t, x -> x <> '')) AS dl, t FROM base),
    corpus AS (
      SELECT count(*) AS N, CAST(sum(dl) AS BIGINT) AS sum_dl FROM sized),
    toks AS (
      SELECT doc_id, dl, unnest(t) AS w FROM sized),
    tf AS (
      SELECT doc_id, dl, w, count(*) AS tf
      FROM toks JOIN qt USING (w)
      GROUP BY 1, 2, 3),
    idf AS (
      SELECT w,
             ln((N - df + 0.5) / (df + 0.5) + 1) AS idf,
             sum_dl / N AS avgdl
      FROM (SELECT w, count(*) AS df FROM tf GROUP BY w)
      CROSS JOIN corpus),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(idf * tf * CAST('{k1p1!r}' AS DOUBLE) /
                 (tf + CAST('{k1!r}' AS DOUBLE) * (CAST('{omb!r}' AS DOUBLE)
                  + CAST('{b!r}' AS DOUBLE) * dl / avgdl))
                 * 1e6) AS BIGINT) AS s
      FROM tf JOIN idf USING (w)),
    docs AS (
      SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id)"""


def _bm25_oracle_sql(
    terms=("hash", "join", "merge", "scan", "stream"),
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> str:
    return f"""
    WITH {_bm25_docs_ctes(terms, k1, b)},
    top AS (
      SELECT doc_id, score_micro FROM docs
      ORDER BY score_micro DESC, doc_id ASC LIMIT {top_k})
    SELECT doc_id, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM top
    """


@_q("q82_bm25_topk", _bm25_oracle_sql())
def q82(spark, sf):
    """Okapi BM25 top-10 retrieval for a fixed query bag. ln once per
    distinct term; per-(doc,term) scores micro-rounded then integer-
    summed (order-independent); top-k via orderBy+limit (TakeOrdered —
    per-partition heaps, no global sort)."""
    from .operators.retrieval import bm25_topk

    d = _t(spark, sf, "documents")
    return bm25_topk(
        d, ["hash", "join", "merge", "scan", "stream"], "text", "doc_id",
        k1=1.2, b=0.75, top_k=10,
    )


@_q(
    "q83_burst_days",
    """
    WITH c AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, day,
           CAST(n AS BIGINT) AS n,
           CAST(count(*) OVER w AS BIGINT) AS n_days,
           CAST(sum(n) OVER w AS BIGINT) AS n_total,
           (n * count(*) OVER w * 1) > (2 * sum(n) OVER w) AS is_burst
    FROM c WINDOW w AS (PARTITION BY event_type)
    """,
)
def q83(spark, sf):
    """Daily mention-volume burst detection per entity (event type):
    a day bursts when its count exceeds 2x the entity's active-day
    average — pure integer cross-multiplication, no division, one
    shuffle (the totals window reuses the groupBy partitioning)."""
    from .operators.temporal import burst_days

    ev = _t(spark, sf, "events")
    return burst_days(ev, "event_type", "ts", burst_num=2, burst_den=1)


@_q(
    "q84_khop",
    f"""
    WITH {_WORD_EDGES_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    bd AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
    deg AS (SELECT a AS node, count(*) AS n1 FROM bd GROUP BY 1),
    two AS (
      SELECT x, count(*) AS n2 FROM (
        SELECT DISTINCT e1.a AS x, e2.b AS y
        FROM bd e1 JOIN bd e2 ON e1.b = e2.a
        WHERE e1.a <> e2.b
          AND NOT EXISTS (SELECT 1 FROM bd d WHERE d.a = e1.a AND d.b = e2.b))
      GROUP BY x)
    SELECT d.node,
           CAST(d.n1 AS BIGINT) AS n_1hop,
           CAST(coalesce(t.n2, 0) AS BIGINT) AS n_2hop
    FROM deg d LEFT JOIN two t ON t.x = d.node
    """,
)
def q84(spark, sf):
    """Exact 1-hop degree + exclusive 2-hop frontier size per node over
    the word co-occurrence graph — the neighborhood a 2-layer GNN
    sampler touches. Frontier dedup via distinct before counting;
    direct neighbors removed with a left-anti join."""
    from .operators.graph import khop_counts, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return khop_counts(e, "src", "dst")


@_q(
    "q85_weighted_sample",
    """
    WITH d AS (
      SELECT doc_id,
             greatest(len(list_filter(
               string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),
               x -> x <> '')), 1) AS w
      FROM documents),
    k AS (
      SELECT doc_id, w,
             -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
                 / pow(2, 60)) / greatest(w, 1) AS key
      FROM d),
    top AS (SELECT doc_id, w, key FROM k ORDER BY key ASC, doc_id ASC LIMIT 50)
    SELECT doc_id,
           CAST(w AS BIGINT) AS weight,
           CAST(round(key * 1e9) AS BIGINT) AS key_nano,
           CAST(row_number() OVER (ORDER BY key ASC, doc_id ASC) AS BIGINT) AS rank
    FROM top
    """,
)
def q85(spark, sf):
    """Length-weighted document sample without replacement (Efraimidis-
    Spirakis exponential keys over md5-uniform draws) — the reproducible
    'sample long docs more' primitive for curriculum/eval set builds.
    Selection is one TakeOrdered pass; no RNG state anywhere."""
    from .operators.split import weighted_sample

    d = _t(spark, sf, "documents")
    sized = d.select(
        "doc_id",
        F.greatest(
            F.size(
                F.filter(
                    F.split(
                        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
                    ),
                    lambda x: x != "",
                )
            ),
            F.lit(1),
        ).alias("n_tok"),
    )
    return weighted_sample(sized, "n_tok", "doc_id", k=50)


def _rrf_oracle_sql(rrf_k: int = 60, top_k: int = 20, per_list: int = 100) -> str:
    return f"""
    WITH {_bm25_docs_ctes()},
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
      FROM (SELECT doc_id, score_micro FROM docs
            ORDER BY score_micro DESC, doc_id LIMIT {per_list})),
    qv AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0),
    vs AS (
      SELECT vec_id AS doc_id,
             CAST(round(list_cosine_similarity(embedding::DOUBLE[], qvec) * 1e6)
                  AS BIGINT) AS cm
      FROM embeddings CROSS JOIN qv),
    vec AS (
      SELECT doc_id, row_number() OVER (ORDER BY cm DESC, doc_id) AS rank
      FROM (SELECT doc_id, cm FROM vs ORDER BY cm DESC, doc_id LIMIT {per_list})),
    allr AS (
      SELECT doc_id, CAST(round(1e6 / ({rrf_k} + rank)) AS BIGINT) AS c FROM lex
      UNION ALL
      SELECT doc_id, CAST(round(1e6 / ({rrf_k} + rank)) AS BIGINT) AS c FROM vec),
    fused AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
             CAST(count(*) AS BIGINT) AS n_rankers
      FROM allr GROUP BY doc_id),
    topf AS (SELECT * FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {top_k})
    SELECT doc_id, rrf_micro, n_rankers,
           CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS BIGINT)
             AS rank
    FROM topf
    """


@_q("q86_rrf_hybrid", _rrf_oracle_sql())
def q86(spark, sf):
    """Hybrid retrieval: BM25 lexical top-100 fused with cosine vector
    top-100 (query = embedding 0, which pairs with doc 0) by reciprocal
    rank — the RAG-stack shape. Per-ranker RRF terms micro-rounded then
    integer-summed; both ranked lists are TakeOrdered passes."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_cols

    d = _t(spark, sf, "documents")
    lex = bm25_topk(
        d, ["hash", "join", "merge", "scan", "stream"], top_k=100
    ).select("doc_id", "rank")

    e = _t(spark, sf, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    scored = e.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            cosine_cols(
                F.col("embedding").cast("array<double>"),
                F.col("_qvec").cast("array<double>"),
            )
            * 1e6
        )
        .cast("bigint")
        .alias("_cm"),
    )
    vtop = scored.orderBy(F.col("_cm").desc(), F.col("doc_id").asc()).limit(100)
    wv = Window.orderBy(F.col("_cm").desc(), F.col("doc_id").asc())
    vec = vtop.select("doc_id", F.row_number().over(wv).alias("rank"))
    return rrf_fuse([lex, vec], "doc_id", "rank", rrf_k=60, top_k=20)


@_q(
    "q87_session_windows",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_last,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q87(spark, sf):
    """Per-user session windows via Spark's NATIVE session_window
    aggregate (30-min gap). Touching windows MERGE: an event exactly at
    the previous window's end joins that session — a new session needs
    a gap STRICTLY greater than 30 min (verified by unit test; hence
    the oracle's >). Same operator the streaming engine runs with
    state eviction."""
    from .operators.temporal import sessionize_native

    ev = _t(spark, sf, "events")
    return sessionize_native(ev, "user_id", "ts", "30 minutes")


@_q(
    "q88_tfidf_terms",
    """
    WITH words AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '))
               AS w
      FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM words WHERE w <> ''
           GROUP BY 1, 2),
    nd AS (SELECT count(*) AS N FROM documents),
    idf AS (
      SELECT w, ln(CAST(N AS DOUBLE) / df) AS idf
      FROM (SELECT w, count(*) AS df FROM tf GROUP BY w) CROSS JOIN nd),
    scored AS (
      SELECT doc_id, tf.w AS term,
             CAST(round(tf * idf * 1e6) AS BIGINT) AS score_micro
      FROM tf JOIN idf USING (w))
    SELECT doc_id, term, score_micro,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY score_micro DESC, term) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 3
    """,
)
def q88(spark, sf):
    """Top-3 TF-IDF keywords per document (KG node descriptions).
    ln once per distinct term, score micro-rounded, per-doc window with
    a total order."""
    from .operators.retrieval import tfidf_top_terms

    d = _t(spark, sf, "documents")
    return tfidf_top_terms(d, "text", "doc_id", top_k=3)


@_q(
    "q89_grouped_quantiles",
    """
    WITH d AS (
      SELECT lang, doc_id,
             len(list_filter(
               string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' '),
               x -> x <> '')) AS v
      FROM documents),
    r AS (
      SELECT lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS r,
             count(*) OVER (PARTITION BY lang) AS n
      FROM d)
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(CASE WHEN r = ((50 * n) + 99) // 100 THEN v END) AS BIGINT)
             AS q50,
           CAST(max(CASE WHEN r = ((90 * n) + 99) // 100 THEN v END) AS BIGINT)
             AS q90,
           CAST(max(CASE WHEN r = ((99 * n) + 99) // 100 THEN v END) AS BIGINT)
             AS q99
    FROM r GROUP BY lang
    """,
)
def q89(spark, sf):
    """Exact type-1 token-length quantiles per language: value at rank
    ceil(p*n/100) computed in pure integer arithmetic ((p*n+99) div
    100) under a total order — actual data values out, no
    interpolation, no floats."""
    from .operators.textstats import grouped_quantiles

    d = _t(spark, sf, "documents")
    sized = d.select(
        "lang",
        "doc_id",
        F.size(
            F.filter(
                F.split(
                    F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
                ),
                lambda x: x != "",
            )
        ).alias("n_tok"),
    )
    return grouped_quantiles(
        sized, ["lang"], "n_tok", (0.5, 0.9, 0.99), tiebreak_col="doc_id"
    )


def _walks_oracle_sql(walk_len: int = 3) -> str:
    steps, prev = [], "w0"
    for t in range(1, walk_len + 1):
        steps.append(f"""
    w{t} AS (
      SELECT p.start, {t} AS step, a.d AS node
      FROM {prev} p JOIN adj a ON a.s = p.node
      WHERE (('0x' || substr(md5(p.start || '|' || p.node || '|' || '{t}'),
                             1, 15))::BIGINT % a.deg) = a.idx)""")
        prev = f"w{t}"
    unions = "\n      UNION ALL ".join(
        f"SELECT * FROM w{t}" for t in range(walk_len + 1)
    )
    return f"""
    WITH {_WORD_EDGES_CTE},
    e AS (SELECT DISTINCT src AS s, dst AS d FROM edges),
    adj AS (
      SELECT s, d, row_number() OVER (PARTITION BY s ORDER BY d) - 1 AS idx,
             count(*) OVER (PARTITION BY s) AS deg
      FROM e),
    nodes AS (SELECT DISTINCT s AS node FROM e
              UNION SELECT DISTINCT d FROM e),
    w0 AS (SELECT node AS start, 0 AS step, node FROM nodes),
    {",".join(steps)}
    SELECT start, CAST(step AS BIGINT) AS step, node FROM (
      {unions})
    """


@_q("q90_walks", _walks_oracle_sql())
def q90(spark, sf):
    """Deterministic node2vec-style walk corpus (3 steps from every
    node): step t out of v picks neighbor md5(start|v|t) mod deg(v)
    under dst-ascending neighbor order — regenerable from the edge
    list, no RNG state. One adjacency build + walk_len equi-joins."""
    from .operators.graph import deterministic_walks, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return deterministic_walks(e, "src", "dst", walk_len=3)


@_q(
    "q91_link_prediction",
    f"""
    WITH {_WORD_EDGES_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    bd AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
    deg AS (SELECT a AS n, count(*) AS deg FROM bd GROUP BY 1),
    aa AS (SELECT n AS z, CAST(round(1e6 / ln(deg)) AS BIGINT) AS aa FROM deg),
    wz AS (SELECT b AS z, a AS u FROM bd),
    cand AS (
      SELECT w1.u AS u, w2.u AS v, count(*) AS n_common,
             CAST(sum(aa.aa) AS BIGINT) AS aam
      FROM wz w1
      JOIN wz w2 ON w1.z = w2.z AND w1.u < w2.u
      JOIN aa ON aa.z = w1.z
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    nonedge AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = c.u AND und.b = c.v))
    SELECT u AS node_a, v AS node_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(round(n_common * 1e6 / (du.deg + dv.deg - n_common)) AS BIGINT)
             AS jaccard_micro,
           aam AS adamic_adar_micro
    FROM nonedge
    JOIN deg du ON du.n = u
    JOIN deg dv ON dv.n = v
    """,
)
def q91(spark, sf):
    """KG edge inference: common-neighbors / Jaccard / Adamic-Adar
    scores for unlinked entity pairs. Candidates from the wedge join
    only (never all-pairs); AA is an integer micro sum with ln once per
    distinct neighbor."""
    from .operators.graph import link_prediction_scores, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return link_prediction_scores(e, "src", "dst", min_common=2)


@_q(
    "q92_closure",
    """
    WITH RECURSIVE anc AS (
      SELECT doc_id AS node, doc_id // 4 AS ancestor, 1 AS depth
      FROM documents WHERE doc_id >= 4
      UNION ALL
      SELECT node, ancestor // 4, depth + 1 FROM anc WHERE ancestor >= 4
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(ancestor AS BIGINT) AS ancestor,
           CAST(depth AS BIGINT) AS depth
    FROM anc
    """,
)
def q92(spark, sf):
    """Ancestor closure with min depth (rdfs:subClassOf reasoning-lite):
    materialize every (node, ancestor, depth) pair so descendant probes
    are equality lookups. Iterative doubling — ceil(log2(diameter))
    join+min-agg rounds, each round pinned and counted (convergence
    test doubles as lineage cut). Edges here: the deterministic base-4
    id tree over documents (child=doc_id, parent=doc_id//4), depth ~4.5
    at sf0.01; the oracle is an independent DuckDB WITH RECURSIVE."""
    from .operators.graph import transitive_closure

    d = _t(spark, sf, "documents")
    edges = d.where(F.col("doc_id") >= 4).select(
        F.col("doc_id").alias("child"),
        F.floor(F.col("doc_id") / F.lit(4)).alias("parent"),
    )
    return transitive_closure(edges, "child", "parent")


@_q(
    "q93_span_merge",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')
               AS toks
      FROM documents),
    sized AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM base),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(toks[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(n_tokens - 2, 0) + 1)) AS i
            FROM sized)),
    dupg AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    iv AS (
      SELECT g.doc_id, g.pos AS s, g.pos + 2 AS e
      FROM grams g JOIN dupg USING (gram)),
    fl AS (
      SELECT doc_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS new_isl
      FROM iv),
    isl AS (
      SELECT doc_id, s, e,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS isl
      FROM fl)
    SELECT doc_id,
           CAST(min(s) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(s) + 1 AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, isl
    """,
)
def q93(spark, sf):
    """Maximal duplicated spans (the intervals a span-level deduper
    cuts): corpus-duplicated 3-gram intervals merged per doc by the
    gaps-and-islands running-max rule. Complements q70 (which reports
    only the coverage fraction); windows are per-doc over duplicated
    intervals only."""
    from .operators.dedup import merge_dup_spans

    d = _t(spark, sf, "documents")
    return merge_dup_spans(d, "text", "doc_id", ngram_n=3, min_count=2)


@_q(
    "q94_blocked_linkage",
    """
    WITH a AS (
      SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
             c_name AS name,
             CAST(round(c_acctbal * 100) AS BIGINT) // 50000 AS bal_bucket
      FROM customer),
    b AS (
      SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
             CASE WHEN c_custkey % 3 = 0
                  THEN replace(c_name, 'Customer#', 'CUST-')
                  ELSE c_name END AS name,
             CAST(round(c_acctbal * 100) AS BIGINT) // 50000
               + CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS bal_bucket
      FROM customer),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN a.name = b.name THEN 1 ELSE 0 END AS agree_name,
             CASE WHEN a.bal_bucket = b.bal_bucket THEN 1 ELSE 0
               END AS agree_bal_bucket
      FROM a JOIN b ON a.nk = b.nk AND a.seg = b.seg)
    SELECT id_a, id_b,
           CAST(agree_name AS BIGINT) AS agree_name,
           CAST(agree_bal_bucket AS BIGINT) AS agree_bal_bucket,
           CAST(CASE WHEN agree_name = 1 THEN 4000 ELSE -1000 END
              + CASE WHEN agree_bal_bucket = 1 THEN 1500 ELSE -500 END
              AS BIGINT) AS score
    FROM cand
    WHERE CASE WHEN agree_name = 1 THEN 4000 ELSE -1000 END
        + CASE WHEN agree_bal_bucket = 1 THEN 1500 ELSE -500 END >= 3000
    """,
)
def q94(spark, sf):
    """Fellegi-Sunter-lite entity resolution: block on (nation, segment),
    score per-field agreement with integer milli-weights, keep pairs
    >= threshold — the accept set a KG feeds to CC as equivalence
    edges. Source B is a deterministic dirty view of customer (name
    mangled for custkey%3==0, balance bucket shifted for %5==0)."""
    from .operators.linkage import blocked_linkage

    c = _t(spark, sf, "customer")
    bucket = F.expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 50000")
    a = c.select(
        F.col("c_custkey").alias("cid"),
        "c_nationkey",
        "c_mktsegment",
        F.col("c_name").alias("name"),
        bucket.alias("bal_bucket"),
    )
    b = c.select(
        F.col("c_custkey").alias("cid"),
        "c_nationkey",
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("CUST-")),
        )
        .otherwise(F.col("c_name"))
        .alias("name"),
        (bucket + F.when(F.col("c_custkey") % 5 == 0, 1).otherwise(0)).alias(
            "bal_bucket"
        ),
    )
    return blocked_linkage(
        a,
        b,
        "cid",
        ["c_nationkey", "c_mktsegment"],
        {"name": (4000, -1000), "bal_bucket": (1500, -500)},
        threshold=3000,
    )


@_q(
    "q95_label_prop",
    f"""
    WITH {_WORD_EDGES_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    bd AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
    nodes AS (SELECT DISTINCT a AS node FROM bd),
    l0 AS (SELECT node, node AS label FROM nodes),
    c1 AS (
      SELECT bd.a AS node, l0.label, count(*) AS n
      FROM bd JOIN l0 ON l0.node = bd.b GROUP BY 1, 2),
    p1 AS (
      SELECT node, label FROM c1
      QUALIFY row_number() OVER (PARTITION BY node
        ORDER BY n DESC, label ASC) = 1),
    l1 AS (
      SELECT nodes.node, coalesce(p1.label, nodes.node) AS label
      FROM nodes LEFT JOIN p1 USING (node)),
    c2 AS (
      SELECT bd.a AS node, l1.label, count(*) AS n
      FROM bd JOIN l1 ON l1.node = bd.b GROUP BY 1, 2),
    p2 AS (
      SELECT node, label FROM c2
      QUALIFY row_number() OVER (PARTITION BY node
        ORDER BY n DESC, label ASC) = 1),
    l2 AS (
      SELECT nodes.node, coalesce(p2.label, nodes.node) AS label
      FROM nodes LEFT JOIN p2 USING (node))
    SELECT node, label FROM l2
    """,
)
def q95(spark, sf):
    """Two synchronous label-propagation rounds over the word
    co-occurrence graph: plurality neighbor label, smallest-label
    tie-break — deterministic community detection (randomized-schedule
    LPA is not reproducible across engines; fixed rounds are)."""
    from .operators.graph import label_propagation, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return label_propagation(e, "src", "dst", rounds=2)


def _kcore_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    its = []
    prev = "c0"
    for i in range(1, rounds + 1):
        its.append(f"""
    k{i} AS (SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {k}),
    c{i} AS (SELECT {prev}.a, {prev}.b FROM {prev}
             JOIN k{i} x ON x.a = {prev}.a
             JOIN k{i} y ON y.a = {prev}.b)""")
        prev = f"c{i}"
    return f"""
    WITH {_WORD_EDGES_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    c0 AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
    {",".join(its)}
    SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY 1
    """


@_q("q96_kcore", _kcore_oracle_sql())
def q96(spark, sf):
    """Fixed-round k-core peeling (k=3, 4 rounds) of the word
    co-occurrence graph — the standard dense-substructure filter before
    community/embedding passes. Every round is a degree agg + two
    semi-joins; a fixed round count keeps the result engine-replayable
    (the oracle unrolls the same four peels as chained CTEs)."""
    from .operators.graph import kcore_peel, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return kcore_peel(e, "src", "dst", k=3, rounds=4)


def _hits_oracle_sql(iterations: int = 2) -> str:
    its = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        its.append(f"""
    a{i}r AS (
      SELECT e.dst AS node, CAST(sum({prev_h}.v * e.w) AS BIGINT) AS s
      FROM e JOIN {prev_h} ON {prev_h}.node = e.src GROUP BY 1),
    a{i} AS (
      SELECT n.node,
             CAST((coalesce(r.s, 0) * 1000000)
                  // greatest((SELECT max(s) FROM a{i}r), 1) AS BIGINT) AS v
      FROM nodes n LEFT JOIN a{i}r r USING (node)),
    h{i}r AS (
      SELECT e.src AS node, CAST(sum(a{i}.v * e.w) AS BIGINT) AS s
      FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY 1),
    h{i} AS (
      SELECT n.node,
             CAST((coalesce(r.s, 0) * 1000000)
                  // greatest((SELECT max(s) FROM h{i}r), 1) AS BIGINT) AS v
      FROM nodes n LEFT JOIN h{i}r r USING (node))""")
        prev_h = f"h{i}"
    last = iterations
    return f"""
    WITH {_WORD_EDGES_CTE},
    e AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges),
    nodes AS (SELECT DISTINCT src AS node FROM e
              UNION SELECT DISTINCT dst FROM e),
    h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS v FROM nodes),
    {",".join(its)}
    SELECT nodes.node, h{last}.v AS hub_micro, a{last}.v AS auth_micro
    FROM nodes
    JOIN h{last} ON h{last}.node = nodes.node
    JOIN a{last} ON a{last}.node = nodes.node
    """


@_q("q97_hits", _hits_oracle_sql())
def q97(spark, sf):
    """HITS hubs/authorities (2 iterations, weighted, max-normalized)
    over the word co-occurrence graph, in exact integer micros — the
    directed-centrality companion to q78's PageRank. Zero doubles:
    max-normalization keeps every half-step bigint, so the distributed
    loop is bit-identical to the oracle's unrolled CTEs."""
    from .operators.graph import hits_micro, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return hits_micro(e, "src", "dst", weight_col="weight", iterations=2)


@_q(
    "q98_temperature_mix",
    """
    WITH per AS (
      SELECT source,
             CAST(floor(sqrt(CAST(sum(n_chars) AS BIGINT))) AS BIGINT) AS w
      FROM documents GROUP BY 1),
    q AS (
      SELECT source,
             CAST((200 * w) //
                  (SELECT CAST(sum(w) AS BIGINT) FROM per) AS BIGINT) AS quota
      FROM per),
    r AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT r.source, CAST(count(*) AS BIGINT) AS n_sampled,
           min(q.quota) AS quota, CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM r JOIN q USING (source)
    WHERE rn <= q.quota
    GROUP BY 1
    """,
)
def q98(spark, sf):
    """Temperature-scaled corpus mixing (size^(1/2) up-weighting of
    small sources, the multilingual-LM sampling recipe) with byte-stable
    integer quotas and md5-ranked per-source selection — summarized per
    source so the oracle pins the exact selected set (count, quota,
    id-sum)."""
    from .operators.split import temperature_mix

    d = _t(spark, sf, "documents")
    s = temperature_mix(d, "source", "doc_id", "n_chars", target_total=200)
    return s.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.min("quota").alias("quota"),
        F.sum("key").cast("bigint").alias("sum_ids"),
    )


def _pii_oracle_sql() -> str:
    """Oracle built from the SAME pattern table as the operator, so the
    regexes are byte-identical in both engines (Java regex ∩ RE2)."""
    from .operators.pii import PII_PATTERNS

    red = "text"
    for _, pat, token in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    return f"""
    WITH withpii AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com now'
               WHEN 1 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' srv'
               ELSE ' call +49-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' soon'
             END AS text
      FROM documents)
    SELECT doc_id,
           {counts},
           {red} AS redacted,
           CAST(length(text) - length({red}) AS BIGINT) AS delta_chars
    FROM withpii
    """


@_q("q99_pii_redact", _pii_oracle_sql())
def q99(spark, sf):
    """PII detect + redact (email / IPv4 / phone), the scrub stage every
    transcript corpus needs before KG construction. Deterministic PII is
    injected from doc_id (the synthetic corpus contains none), then the
    operator counts and replaces via JVM regexp Columns — one map-only
    Project, no shuffle, no Python (operators/pii.py)."""
    from .operators.pii import redact_pii

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com now"),
                ),
            )
            .when(
                did % 3 == 1,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                    F.lit(" srv"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(" call +49-555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                    F.lit(" soon"),
                )
            ),
        ).alias("text"),
    )
    return redact_pii(injected, "text", "doc_id")


@_q(
    "qa01_resnik_lin",
    """
    WITH RECURSIVE
    nodes AS (SELECT doc_id AS n FROM documents),
    n_total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    edges AS (
      SELECT doc_id AS c, doc_id // 4 AS p FROM documents WHERE doc_id >= 1),
    cl AS (
      SELECT c AS node, p AS anc, CAST(1 AS BIGINT) AS d FROM edges
      UNION
      SELECT cl.node, e.p, cl.d + 1 FROM cl JOIN edges e ON cl.anc = e.c),
    anc AS (
      SELECT node, anc, d FROM cl
      UNION ALL
      SELECT n, n, CAST(0 AS BIGINT) FROM nodes),
    ic AS (
      SELECT anc AS n,
             CAST(round(-ln(CAST(count(*) AS DOUBLE)
                            / (SELECT n FROM n_total)) * 1000000)
                  AS BIGINT) AS ic_micro
      FROM anc GROUP BY anc),
    rootd AS (SELECT node, d AS rd FROM anc WHERE anc = 0),
    pairs AS (
      SELECT doc_id AS a,
             (doc_id * 31 + 17) % (SELECT n FROM n_total) AS b
      FROM documents
      WHERE doc_id % 7 = 3
        AND (doc_id * 31 + 17) % (SELECT n FROM n_total) != doc_id),
    common AS (
      SELECT p.a, p.b, aa.anc AS c
      FROM pairs p
      JOIN anc aa ON aa.node = p.a
      JOIN anc ab ON ab.node = p.b AND ab.anc = aa.anc),
    best AS (
      SELECT a, b, c, rd,
             row_number() OVER (PARTITION BY a, b
                                ORDER BY rd DESC, c ASC) AS rn
      FROM common JOIN rootd ON rootd.node = common.c)
    SELECT best.a, best.b, best.c AS lca,
           CAST(best.rd AS BIGINT) AS lca_depth,
           icl.ic_micro AS resnik_micro,
           CAST(round((2000000.0 * icl.ic_micro)
                      / (ica.ic_micro + icb.ic_micro)) AS BIGINT) AS lin_micro
    FROM best
    JOIN ic icl ON icl.n = best.c
    JOIN ic ica ON ica.n = best.a
    JOIN ic icb ON icb.n = best.b
    WHERE best.rn = 1
    """,
)
def qa01(spark, sf):
    """Resnik + Lin information-content similarity over the base-4
    ontology tree (root 0): IC from closure descendant counts, LCA via
    max-root-depth common ancestor, all micro-fixed-point integers —
    the term-to-term similarity a KG needs once mentions are mapped
    (operators/semsim.py; closure = the same table q92 materializes)."""
    from .operators.semsim import resnik_lin

    d = _t(spark, sf, "documents")
    n_total = d.count()
    nodes = d.select(F.col("doc_id").alias("n"))
    edges = d.where(F.col("doc_id") >= 1).select(
        F.col("doc_id").alias("child"),
        F.floor(F.col("doc_id") / F.lit(4)).alias("parent"),
    )
    pairs = (
        d.where(F.col("doc_id") % 7 == 3)
        .select(
            F.col("doc_id").alias("a"),
            ((F.col("doc_id") * 31 + 17) % F.lit(n_total)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
    )
    return resnik_lin(edges, pairs, nodes, root=0)


def _kmeans_ctes(k: int = 8, iters: int = 3) -> str:
    """Unrolled Lloyd iterations as CTEs, dimension-wise (relational
    mirror of the array-wise Spark plan; identical integer arithmetic).
    Shared by the qa02 summary oracle and the qa73 silhouette oracle."""
    parts = [
        f"""
    dims AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS val
      FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY h) AS INT) AS cl, vec_id
      FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM embeddings ORDER BY h LIMIT {k})),
    c0 AS (
      SELECT seeds.cl, dims.pos, dims.val
      FROM seeds JOIN dims USING (vec_id))"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""
    d{i} AS (
      SELECT dims.vec_id, c.cl,
             CAST(sum((dims.val - c.val) * (dims.val - c.val)) AS BIGINT)
               AS dist
      FROM dims JOIN c{p} c USING (pos)
      GROUP BY 1, 2),
    a{i} AS (
      SELECT vec_id, cl, dist FROM (
        SELECT vec_id, cl, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM d{i}) WHERE rn = 1),
    s{i} AS (
      SELECT a.cl, dims.pos,
             CAST(sum(dims.val) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM a{i} a JOIN dims USING (vec_id)
      GROUP BY 1, 2),
    c{i} AS (
      SELECT c.cl, c.pos, COALESCE(s.s // s.n, c.val) AS val
      FROM c{p} c LEFT JOIN s{i} s ON s.cl = c.cl AND s.pos = c.pos)"""
        )
    return ",".join(parts)


def _kmeans_oracle_sql(k: int = 8, iters: int = 3) -> str:
    body = _kmeans_ctes(k, iters)
    return f"""
    WITH {body},
    cs AS (SELECT cl, CAST(sum(val) AS BIGINT) AS centroid_sum
           FROM c{iters} GROUP BY cl)
    SELECT a.cl AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(a.dist) AS BIGINT) AS inertia,
           CAST(sum(a.vec_id) AS BIGINT) AS sum_ids,
           min(cs.centroid_sum) AS centroid_sum
    FROM a{iters} a JOIN cs ON cs.cl = a.cl
    GROUP BY a.cl
    """


@_q("qa02_kmeans", _kmeans_oracle_sql())
def qa02(spark, sf):
    """Distributed Lloyd k-means (k=8, 3 iterations) over embeddings in
    integer micro space: map-only broadcast-centroid assignment + one
    groupBy per update, centroids the only driver-side sync (the
    canonical distributed-kmeans shape — operators/clustering.py).
    Summary pins the exact final partition: member count, integer
    inertia, member-id sum, final centroid component sum."""
    from .operators.clustering import kmeans_micro

    e = _t(spark, sf, "embeddings")
    assign = kmeans_micro(e, "vec_id", "embedding", k=8, iters=3)
    cents = assign._kmeans_centroids
    csum = spark.createDataFrame(
        [(j + 1, sum(c)) for j, c in enumerate(cents)],
        "cluster int, centroid_sum bigint",
    )
    return (
        assign.groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("dist").cast("bigint").alias("inertia"),
            F.sum("vec_id").cast("bigint").alias("sum_ids"),
        )
        .join(F.broadcast(csum), "cluster")
        .select("cluster", "n_members", "inertia", "sum_ids", "centroid_sum")
    )


@_q(
    "qa03_cms_heavy",
    r"""
    WITH norm AS (
      SELECT doc_id, lower(trim(regexp_replace(text,'\s+',' ','g'))) AS t
      FROM documents),
    toks AS (
      SELECT unnest(string_split(t, ' ')) AS w FROM norm),
    wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY w),
    cells AS (
      SELECT w, true_cnt, r,
             ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 15))
               ::BIGINT % 256 AS cell
      FROM wc, (SELECT unnest([0, 1, 2, 3]) AS r) rs),
    sk AS (
      SELECT r, cell, CAST(sum(true_cnt) AS BIGINT) AS cnt
      FROM cells GROUP BY r, cell),
    est AS (
      SELECT c.w, min(c.true_cnt) AS true_cnt,
             CAST(min(sk.cnt) AS BIGINT) AS est_cnt
      FROM cells c JOIN sk USING (r, cell) GROUP BY c.w)
    SELECT w AS word, est_cnt, true_cnt
    FROM est WHERE est_cnt >= 16
    """,
)
def qa03(spark, sf):
    """Count-min-sketch heavy hitters over the token stream: d=4 rows ×
    w=256 cells of md5-derived counters, built distinct-first (one
    shuffle of ≤ d·w rows), estimates = min over rows with the sketch
    broadcast. Reports every token whose ESTIMATE crosses the threshold
    — the CMS overestimate semantics (est ≥ true always), with the true
    count alongside so collisions are visible (operators/sketch.py)."""
    from .operators.dedup import normalized_text_col
    from .operators.sketch import cms_estimates, cms_sketch

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(normalized_text_col(F.col("text")), " ")).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("true_cnt"))
    sk = cms_sketch(wc, "w", "true_cnt", depth=4, width=256)
    est = cms_estimates(wc.select("w"), sk, "w", depth=4, width=256)
    return (
        est.join(wc, "w")
        .where(F.col("est_cnt") >= 16)
        .select(F.col("w").alias("word"), "est_cnt", "true_cnt")
    )


@_q(
    "qa04_bloom_decontam",
    r"""
    WITH norm AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text,'\s+',' ','g'))) AS t,
             len(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS nw
      FROM documents),
    toks AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(t,' ')) AS w,
                   generate_subscripts(string_split(t,' '),1) AS idx
            FROM norm)),
    grams3 AS (
      SELECT doc_id, w || ' ' || w1 || ' ' || w2 AS gram
      FROM (SELECT doc_id, w,
                   lead(w)    OVER win AS w1,
                   lead(w, 2) OVER win AS w2
            FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY idx))
      WHERE w1 IS NOT NULL AND w2 IS NOT NULL),
    small AS (SELECT doc_id, t AS gram FROM norm WHERE nw < 3 AND t <> ''),
    allg AS (SELECT DISTINCT doc_id, gram
             FROM (SELECT * FROM grams3 UNION ALL SELECT * FROM small)),
    bench AS (SELECT DISTINCT gram FROM allg WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, gram FROM allg WHERE doc_id % 97 <> 0),
    bcells AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || gram), 1, 15))
               ::BIGINT % 16384 AS cell
      FROM bench, (SELECT unnest([0, 1, 2]) AS r) rs),
    ccells AS (
      SELECT doc_id, gram, r,
             ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || gram), 1, 15))
               ::BIGINT % 16384 AS cell
      FROM corpus, (SELECT unnest([0, 1, 2]) AS r) rs),
    cand AS (
      SELECT doc_id, gram
      FROM ccells JOIN bcells USING (cell)
      GROUP BY doc_id, gram HAVING count(*) = 3),
    nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
           FROM cand GROUP BY doc_id),
    nr AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_real
           FROM cand c JOIN bench b USING (gram) GROUP BY c.doc_id)
    SELECT nc.doc_id, nc.n_candidates,
           COALESCE(nr.n_real, CAST(0 AS BIGINT)) AS n_real
    FROM nc LEFT JOIN nr ON nr.doc_id = nc.doc_id
    """,
)
def qa04(spark, sf):
    """Bloom-prefiltered benchmark decontamination: the benchmark
    shingle set packed into a 16384-bit literal hex bitmap tested
    map-only in codegen; only bloom-positive shingles reach the exact
    confirm join. Output exposes candidates vs confirmed overlaps, so
    the false-positive margin is measurable; parity with the relational
    oracle proves the no-false-negative property every run
    (operators/bloom.py)."""
    from .operators.bloom import bloom_contamination_report

    d = _t(spark, sf, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    return bloom_contamination_report(
        corpus, bench, "text", "doc_id", shingle_n=3, k=3, m=16384
    )


@_q(
    "qa05_ewma_bursts",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily),
    ew AS (
      SELECT event_type, rn, day, n, n * 64 AS e, FALSE AS is_burst
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT i.event_type, i.rn, i.day, i.n,
             (2 * 64 * i.n + 6 * ew.e) // 8,
             i.n * 64 * 1 > 2 * ew.e
      FROM idx i JOIN ew ON i.event_type = ew.event_type
                        AND i.rn = ew.rn + 1)
    SELECT event_type, day, n, CAST(e AS BIGINT) AS ewma_s, is_burst
    FROM ew
    """,
)
def qa05(spark, sf):
    """EWMA trend-adaptive burst detection (α=1/4, ×64 fixed point):
    per-entity daily counts folded sequentially in a JVM higher-order
    aggregate — the baseline drifts with the series, unlike q83's
    global-average rule. Power-of-two α denominator keeps the recursion
    in exact shifted integers on both engines (operators/temporal.py)."""
    from .operators.temporal import ewma_bursts

    ev = _t(spark, sf, "events")
    return ewma_bursts(ev, "event_type", "ts")


def _sssp_oracle_sql(rounds: int = 16) -> str:
    """Unrolled min-plus relaxation rounds; ≥ the demo graph's hop
    diameter, so both engines are at the fixed point."""
    ctes = [
        """
    en AS (SELECT doc_id FROM documents WHERE doc_id < 64),
    mx AS (SELECT max(doc_id) AS m FROM en),
    edges AS MATERIALIZED (
      SELECT doc_id AS src, doc_id + 1 AS dst,
             CAST(doc_id % 7 + 1 AS BIGINT) AS w
      FROM en WHERE doc_id + 1 <= (SELECT m FROM mx)
      UNION ALL
      SELECT doc_id, doc_id + 10, CAST(doc_id % 5 + 3 AS BIGINT)
      FROM en WHERE doc_id + 10 <= (SELECT m FROM mx)),
    d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
    d{r} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{r - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM d{r - 1} d JOIN edges e ON e.src = d.node)
      GROUP BY node)"""
        )
    return (
        "\n    WITH "
        + ",".join(ctes)
        + f"\n    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{rounds}\n    "
    )


@_q("qa06_sssp", _sssp_oracle_sql())
def qa06(spark, sf):
    """Weighted single-source shortest paths (Pregel-style frontier
    Bellman-Ford, operators/graph.py:sssp) over a deterministic +1/+10
    weighted DAG on the first 64 doc ids — exact min-plus integers; the
    oracle runs the same relaxation unrolled past the fixed point."""
    from .operators.graph import sssp

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 64)
    mx = d.agg(F.max("doc_id")).first()[0]
    base = d.select("doc_id")
    e1 = base.where(F.col("doc_id") + 1 <= mx).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + 1).alias("dst"),
        (F.col("doc_id") % 7 + 1).cast("long").alias("w"),
    )
    e2 = base.where(F.col("doc_id") + 10 <= mx).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + 10).alias("dst"),
        (F.col("doc_id") % 5 + 3).cast("long").alias("w"),
    )
    return sssp(e1.unionByName(e2), source=0, max_rounds=16)


@_q(
    "qa07_token_entropy",
    r"""
    WITH norm AS (
      SELECT source, lower(trim(regexp_replace(text,'\s+',' ','g'))) AS t
      FROM documents),
    toks AS (SELECT source, unnest(string_split(t, ' ')) AS w FROM norm),
    counts AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
    per AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
                               AS BIGINT)) AS BIGINT) AS s
      FROM counts GROUP BY source)
    SELECT source, n_tokens, n_types,
           CAST(round(CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000)
                                AS BIGINT) * n_tokens - s AS DOUBLE)
                      / n_tokens) AS BIGINT) AS entropy_micro
    FROM per
    """,
)
def qa07(spark, sf):
    """Per-source Shannon token entropy in micro-nats — the corpus
    diversity monitor (entropy collapse flags scraper loops /
    boilerplate floods). Integer Σc·ln_micro(c) with ln once per count
    row, one rounded division (operators/stats.py)."""
    from .operators.dedup import normalized_text_col
    from .operators.stats import token_entropy

    d = _t(spark, sf, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(normalized_text_col(F.col("text")), " ")).alias("w"),
    )
    return token_entropy(toks, "source", "w")


@_q(
    "qa08_ks_drift",
    """
    WITH g AS (SELECT event_type AS _g, value AS _v FROM events),
    gv AS (SELECT _g, _v, count(*) AS c_g FROM g GROUP BY 1, 2),
    av AS (SELECT _v, count(*) AS c_all FROM g GROUP BY 1),
    totals AS (SELECT _g, CAST(count(*) AS BIGINT) AS n_g FROM g GROUP BY 1),
    nall AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
    grid AS (SELECT DISTINCT gv._g, av._v FROM (SELECT DISTINCT _g FROM gv) gv, av),
    full_g AS (
      SELECT grid._g, grid._v, COALESCE(gv.c_g, 0) AS c_g, av.c_all
      FROM grid
      LEFT JOIN gv ON gv._g = grid._g AND gv._v = grid._v
      JOIN av ON av._v = grid._v),
    cum AS (
      SELECT _g, _v,
             CAST(sum(c_g) OVER w AS BIGINT) AS cum_g,
             CAST(sum(c_all) OVER w AS BIGINT) AS cum_all
      FROM full_g
      WINDOW w AS (PARTITION BY _g ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    per AS (
      SELECT cum._g, t.n_g,
             CAST(max(abs(cum_g * (SELECT n FROM nall)
                          - cum_all * t.n_g)) AS BIGINT) AS ks_num
      FROM cum JOIN totals t ON t._g = cum._g
      GROUP BY cum._g, t.n_g)
    SELECT _g AS event_type, n_g, ks_num,
           CAST(round(CAST(ks_num AS DOUBLE) * 1000000
                      / (n_g * (SELECT n FROM nall))) AS BIGINT) AS ks_micro
    FROM per
    """,
)
def qa08(spark, sf):
    """Exact two-sample Kolmogorov-Smirnov drift of each event type's
    value distribution against the global one — cross-multiplied
    integer CDF comparison at every distinct value, one rounded
    division. The shape monitor a pipeline runs per ingest batch
    (operators/stats.py)."""
    from .operators.stats import ks_drift

    ev = _t(spark, sf, "events")
    return ks_drift(ev, "event_type", "value")


@_q(
    "qa09_gini",
    """
    WITH ranked AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS x,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n_chars, doc_id)
                  AS BIGINT) AS i
      FROM documents),
    agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s0,
             CAST(sum(i * x) AS BIGINT) AS s1
      FROM ranked GROUP BY lang)
    SELECT lang, n, s0,
           CAST(round(CAST(2 * s1 - (n + 1) * s0 AS DOUBLE) * 1000000
                      / (n * s0)) AS BIGINT) AS gini_micro
    FROM agg
    """,
)
def qa09(spark, sf):
    """Per-language Gini concentration of document sizes — the mix
    monitor (one domain eating the corpus shows as rising G). Rank
    formula with total-order ranks, bigint sums, one rounded division
    (operators/stats.py)."""
    from .operators.stats import gini_concentration

    d = _t(spark, sf, "documents")
    return gini_concentration(d, "lang", "n_chars", "doc_id")


_URL_TRACK = "(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*"


@_q(
    "qa10_url_canon",
    rf"""
    WITH u0 AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'HTTP://WWW.Site' || CAST((doc_id // 3) % 7 AS VARCHAR)
                    || '.COM:80/Page/' || CAST(doc_id // 3 AS VARCHAR)
                    || '/?utm_source=a'
               WHEN 1 THEN 'https://site' || CAST((doc_id // 3) % 7 AS VARCHAR)
                    || '.com:443/Page/' || CAST(doc_id // 3 AS VARCHAR) || '#frag'
               ELSE 'http://site' || CAST((doc_id // 3) % 7 AS VARCHAR)
                    || '.com/Page/' || CAST(doc_id // 3 AS VARCHAR)
                    || '?ref=x&q=1'
             END AS url
      FROM documents),
    c1 AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([a-zA-Z]+://[^/]*)', 1))
               || substr(url,
                         length(regexp_extract(url, '^([a-zA-Z]+://[^/]*)', 1))
                         + 1) AS u
      FROM u0),
    c2 AS (SELECT doc_id, url, regexp_replace(u, '#.*$', '') AS u FROM c1),
    c3 AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(u, '{_URL_TRACK}&', '', 'g'),
                 '[?&]{_URL_TRACK}$', ''),
               '\?&', '?') AS u
      FROM c2),
    c4 AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(u, '^(http://[^/:]+):80(/|$)', '\1\2'),
               '^(https://[^/:]+):443(/|$)', '\1\2') AS u
      FROM c3),
    c5 AS (
      SELECT doc_id, url,
             regexp_replace(u, '^([a-z]+://)www\.', '\1') AS u
      FROM c4),
    c6 AS (
      SELECT doc_id, url,
             regexp_replace(u, '(://[^/]+/.+?)/$', '\1') AS canonical
      FROM c5),
    keyed AS (
      SELECT doc_id, url, canonical,
             regexp_replace(canonical, '^[a-z]+://', '') AS dedup_key
      FROM c6)
    SELECT doc_id, url, canonical, dedup_key,
           row_number() OVER (PARTITION BY dedup_key ORDER BY doc_id) > 1
             AS is_dup_of_earlier
    FROM keyed
    """,
)
def qa10(spark, sf):
    """URL canonicalization + first-seen dedup flag, the crawl
    pipeline's cheapest dedup stage: lowercase scheme/host, strip
    fragments / tracking params / default ports / www. / trailing
    slash — one map-only JVM-regex Project, then a window-ranked
    scheme-insensitive dedup key (operators/urls.py). Deterministic
    messy URLs injected from doc_id (three variants per target page;
    http/https variants collide on the key)."""
    from .operators.urls import canonicalize_urls

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    base = F.floor(did / 3).cast("long")
    h = (base % 7).cast("string")
    injected = d.select(
        "doc_id",
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("HTTP://WWW.Site"), h, F.lit(".COM:80/Page/"),
                base.cast("string"), F.lit("/?utm_source=a"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("https://site"), h, F.lit(".com:443/Page/"),
                base.cast("string"), F.lit("#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://site"), h, F.lit(".com/Page/"),
                base.cast("string"), F.lit("?ref=x&q=1"),
            )
        )
        .alias("url"),
    )
    return canonicalize_urls(injected, "url", "doc_id")


@_q(
    "qa11_nfc_scrub",
    r"""
    WITH inj AS (
      SELECT doc_id,
             substr(text, 1, 40)
             || CASE CAST(doc_id % 4 AS INT)
                  WHEN 0 THEN ''
                  WHEN 1 THEN ' caf' || chr(101) || chr(769)
                  WHEN 2 THEN ' ' || chr(1) || 'x' || chr(7)
                  ELSE ' ' || chr(1) || 'caf' || chr(101) || chr(769) || chr(7)
                END AS raw
      FROM documents),
    scrub AS (
      SELECT doc_id, raw,
             nfc_normalize(
               regexp_replace(raw, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')
             ) AS clean
      FROM inj)
    SELECT doc_id, clean,
           length(raw) AS n_raw,
           length(raw)
             - length(regexp_replace(raw, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
             AS n_ctrl,
           length(clean) AS n_clean,
           clean <> raw AS changed
    FROM scrub
    """,
)
def qa11(spark, sf):
    """Unicode NFC normalization + C0-control scrub — the canonical
    first cleaning stage before any hashing/dedup/mention work
    (operators/unicode_norm.py; reference normalizes labels only via
    lower/strip, utils/helpers.py — web text needs codepoint-level
    canonicalization).  ASCII rows take a pure-JVM lane; only rows that
    actually contain non-ASCII bytes pass through the Arrow NFC UDF.
    Deterministic mess injected from doc_id: %4==1 appends a DECOMPOSED
    e+U+0301 (NFC composes it, shrinking by one codepoint), %4==2
    appends C0 controls (stripped), %4==3 both, %4==0 stays clean.
    Oracle: DuckDB nfc_normalize (utf8proc) is the same UAX#15 NFC as
    Python's unicodedata."""
    from .operators.unicode_norm import nfc_scrub

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.when(did % 4 == 1, F.lit(" caf" + "e" + "́"))
            .when(did % 4 == 2, F.lit(" " + "\x01" + "x" + "\x07"))
            .when(
                did % 4 == 3,
                F.lit(" " + "\x01" + "caf" + "e" + "́" + "\x07"),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return nfc_scrub(injected, "text", "doc_id")


@_q(
    "qa12_lang_kappa",
    r"""
    WITH words AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
                         w -> w <> '') AS words
      FROM documents),
    scored AS (
      SELECT doc_id, lang, source,
             len(list_filter(words, w -> list_contains(['the','and','of'], w))) AS en_hits,
             len(list_filter(words, w -> list_contains(['der','die','und'], w))) AS de_hits,
             len(list_filter(words, w -> list_contains(['le','la','et'], w))) AS fr_hits,
             len(list_filter(words, w -> list_contains(['el','los','que'], w))) AS es_hits
      FROM words),
    guess AS (
      SELECT source, lang,
             CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0 THEN 'und'
                  WHEN es_hits >= greatest(en_hits, de_hits, fr_hits) THEN 'es'
                  WHEN fr_hits >= greatest(en_hits, de_hits) THEN 'fr'
                  WHEN de_hits >= en_hits THEN 'de'
                  ELSE 'en' END AS g
      FROM scored),
    cells AS (
      SELECT source, lang, g, CAST(count(*) AS BIGINT) AS c
      FROM guess GROUP BY 1, 2, 3),
    tot AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN lang = g THEN c ELSE 0 END) AS BIGINT) AS n_agree
      FROM cells GROUP BY 1),
    r AS (SELECT source, lang AS k, CAST(sum(c) AS BIGINT) AS rr
          FROM cells GROUP BY 1, 2),
    cc AS (SELECT source, g AS k, CAST(sum(c) AS BIGINT) AS gc
           FROM cells GROUP BY 1, 2),
    pe AS (
      SELECT r.source, CAST(sum(rr * gc) AS BIGINT) AS pe_num
      FROM r JOIN cc ON r.source = cc.source AND r.k = cc.k
      GROUP BY 1)
    SELECT t.source, n_docs, n_agree,
           COALESCE(pe_num, 0) AS pe_num,
           CASE WHEN n_docs * n_docs - COALESCE(pe_num, 0) = 0 THEN NULL
                ELSE CAST(n_docs * n_agree - COALESCE(pe_num, 0) AS DOUBLE)
                     / CAST(n_docs * n_docs - COALESCE(pe_num, 0) AS DOUBLE)
           END AS kappa
    FROM tot t LEFT JOIN pe ON t.source = pe.source
    """,
)
def qa12(spark, sf):
    """Per-source Cohen's kappa between the declared `lang` column and
    the q51 stopword-cue language guess — the chance-corrected
    annotation-quality monitor a crawl pipeline runs to catch sources
    whose self-declared metadata diverges from content
    (operators/stats.py:cohens_kappa).  Integer-exact: contingency
    cells, marginal cross-products, and both kappa terms stay bigint;
    one IEEE division at the end (contract.py exactness rules)."""
    from .operators.stats import cohens_kappa
    from .operators.textstats import with_lang_guess

    d = _t(spark, sf, "documents")
    return cohens_kappa(
        with_lang_guess(d, "text"), "source", "lang", "lang_guess"
    )


# Deterministic transcript view of `events` (the north-rule shape:
# conv_id, turn_idx implied by (ts, event_id) order, role, tool, ts) —
# identical arithmetic on both engines, so dialogue-structure operators
# can be oracled without shipping a Python RNG into SQL.
_TRANSCRIPT_CTE = """
    t AS (
      SELECT user_id AS conv_id, ts, event_id,
             CASE WHEN CAST(event_id % 10 AS INT) < 4 THEN 'user'
                  WHEN CAST(event_id % 10 AS INT) < 8 THEN 'assistant'
                  ELSE 'tool' END AS role,
             CASE WHEN CAST(event_id % 10 AS INT) >= 8 THEN 'search'
                  WHEN CAST(event_id % 10 AS INT) = 7 THEN 'browser'
             END AS tool
      FROM events)
"""


def _transcript_view(spark, sf):
    e = _t(spark, sf, "events")
    m = (F.col("event_id") % 10).cast("int")
    return e.select(
        F.col("user_id").alias("conv_id"),
        "ts",
        "event_id",
        F.when(m < 4, "user").when(m < 8, "assistant").otherwise("tool").alias("role"),
        F.when(m >= 8, "search").when(m == 7, "browser").alias("tool"),
    )


@_q(
    "qa13_role_transitions",
    f"""
    WITH {_TRANSCRIPT_CTE},
    tr AS (
      SELECT lag(role) OVER (PARTITION BY conv_id ORDER BY ts, event_id)
               AS prev_role,
             role
      FROM t),
    c AS (
      SELECT prev_role, role, CAST(count(*) AS BIGINT) AS n
      FROM tr WHERE prev_role IS NOT NULL GROUP BY 1, 2)
    SELECT prev_role, role, n,
           CAST(round(CAST(n * 1000000 AS DOUBLE)
                      / sum(n) OVER (PARTITION BY prev_role)) AS BIGINT)
             AS p_micro
    FROM c
    """,
)
def qa13(spark, sf):
    """First-order Markov role-transition matrix over consecutive turns
    within a conversation (operators/dialogue.py) — the structure-level
    curation signal that catches retry storms (assistant→assistant
    runs) and tool loops in agent transcripts.  One conv-keyed window
    shuffle, then a |roles|² aggregate; transition probability as
    micro-fixed-point from exact bigint counts."""
    from .operators.dialogue import role_transition_matrix

    return role_transition_matrix(
        _transcript_view(spark, sf), "conv_id", ("ts", "event_id"), "role"
    )


@_q(
    "qa14_dialogue_shape",
    f"""
    WITH {_TRANSCRIPT_CTE}
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_user,
           CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_assistant,
           CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tool_role,
           CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tool_calls,
           CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_us,
           CASE WHEN count(*) > 1 THEN
             CAST(round(CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE)
                        / (count(*) - 1)) AS BIGINT)
           END AS mean_gap_us
    FROM t GROUP BY 1
    """,
)
def qa14(spark, sf):
    """Per-conversation dialogue-shape row (operators/dialogue.py):
    turn counts by role, tool-call count, wall-clock duration, mean
    inter-turn gap — the conversation-level filter table a transcript
    corpus is curated on.  Single map-side-combinable groupBy per conv;
    epoch-micro integer time arithmetic, one terminal micro-rounded
    division."""
    from .operators.dialogue import dialogue_shape

    return dialogue_shape(_transcript_view(spark, sf), "conv_id")


@_q(
    "qa15_context_assembly",
    r"""
    WITH turns AS (
      SELECT doc_id % 40 AS conv_id, doc_id // 40 AS turn_idx,
             CASE WHEN (doc_id // 40) % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             text
      FROM documents),
    tok AS (
      SELECT *,
             len(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS ntok
      FROM turns),
    run AS (
      SELECT *, sum(ntok) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS cum
      FROM tok),
    kept AS (SELECT * FROM run WHERE cum <= 600)
    SELECT conv_id,
           string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx)
             AS example,
           CAST(count(*) AS BIGINT) AS n_turns_used,
           CAST(sum(ntok) AS BIGINT) AS n_tokens_used
    FROM kept GROUP BY conv_id
    """,
)
def qa15(spark, sf):
    """Chat-SFT context assembly: per-conversation training example
    under a 600-token budget — longest prefix of whole turns, lines
    "<role>: text" joined in turn order
    (operators/chunking.py:assemble_conversation_examples).  Running
    token sum and the final agg share one conv-keyed exchange; agg
    state is budget-bounded per conv regardless of skew.  Deterministic
    conversation view folded from documents (doc_id % 40)."""
    from .operators.chunking import assemble_conversation_examples

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    tix = F.floor(did / 40).cast("long")
    turns = d.select(
        (did % 40).alias("conv_id"),
        tix.alias("turn_idx"),
        F.when(tix % 2 == 0, "user").otherwise("assistant").alias("role"),
        "text",
    )
    return assemble_conversation_examples(
        turns, "conv_id", "turn_idx", "role", "text", token_budget=600
    )


@_q(
    "qa16_interval_join",
    """
    WITH iv AS (
      SELECT user_id, event_id AS err_event_id, ts AS start_ts,
             ts + INTERVAL 300 SECOND AS end_ts
      FROM events WHERE event_type = 'error')
    SELECT i.user_id, i.err_event_id, e.event_id,
           CAST(epoch_us(e.ts) - epoch_us(i.start_ts) AS BIGINT) AS delta_us
    FROM iv i JOIN events e
      ON e.user_id = i.user_id
     AND e.ts >= i.start_ts AND e.ts <= i.end_ts
    """,
)
def qa16(spark, sf):
    """Point-in-interval join via time bucketization
    (operators/intervaljoin.py): every event of a user within the
    5-minute window after one of their error events — error-blast
    attribution, the incident-analysis range join.  A naive theta join
    is a BroadcastNestedLoopJoin; bucketizing to the interval width
    makes it a plain AQE-friendly equi-join on (user_id, bucket) with
    ≤2 buckets per interval and exactly-once pair emission (a point has
    one bucket).  Oracle: DuckDB's native range join."""
    from .operators.intervaljoin import interval_point_join

    e = _t(spark, sf, "events")
    iv = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_event_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("end_ts"),
    )
    pts = e.select("user_id", "event_id", "ts")
    joined = interval_point_join(
        pts, iv, "ts", "start_ts", "end_ts",
        keys=("user_id",), bucket_width_us=300_000_000,
    )
    return joined.select(
        "user_id",
        "err_event_id",
        "event_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("start_ts").cast("timestamp"))
        ).alias("delta_us"),
    )


@_q(
    "qa17_scd2_history",
    """
    WITH grid AS (
      SELECT u.user_id, gs.s
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(range(0, 8)) AS s) gs),
    snap AS (
      SELECT user_id, CAST(s AS BIGINT) AS snapshot_id,
             CAST(((user_id + s) // 3) % 4 AS VARCHAR) AS state
      FROM grid),
    flagged AS (
      SELECT *, CASE WHEN row_number() OVER w = 1
                      OR state IS DISTINCT FROM lag(state) OVER w
                     THEN 1 ELSE 0 END AS chg
      FROM snap WINDOW w AS (PARTITION BY user_id ORDER BY snapshot_id)),
    isl AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY snapshot_id)
                  AS island
      FROM flagged),
    grp AS (
      SELECT user_id, island, min(state) AS state,
             CAST(min(snapshot_id) AS BIGINT) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_snaps
      FROM isl GROUP BY 1, 2),
    fin AS (
      SELECT user_id, state, valid_from, n_snaps,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
      FROM grp)
    SELECT user_id, state, valid_from, valid_to, n_snaps,
           valid_to IS NULL AS is_current
    FROM fin
    """,
)
def qa17(spark, sf):
    """SCD2 validity intervals from per-snapshot entity states
    (operators/scd.py:scd2_from_snapshots) — the node-history table a
    KG keeps across ontology releases.  Gaps-and-islands: null-safe lag
    change flag, running-sum island id, per-island min/lead bounds; all
    windows and the groupBy share ONE entity-keyed exchange.
    Deterministic snapshot grid: 8 snapshots per user with the state
    changing when (user_id + s) crosses a multiple of 3."""
    from .operators.scd import scd2_from_snapshots

    users = _t(spark, sf, "events").select("user_id").distinct()
    grid = users.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s")
    )
    snap = grid.select(
        "user_id",
        F.col("s").cast("long").alias("snapshot_id"),
        (F.floor((F.col("user_id") + F.col("s")) / 3) % 4)
        .cast("string")
        .alias("state"),
    )
    return scd2_from_snapshots(snap, "user_id", "snapshot_id", ("state",))


@_q(
    "qa18_mention_evidence",
    f"""
    WITH {_kgf.DETECT_CTES},
    {_kgf.decision_values_sql()},
    links AS (
      SELECT c.doc_id, c.begin, c."end", c.span AS surface, d.class_iri
      FROM cand c JOIN dec d ON c.span = d.pattern
      WHERE d.rank = 1),
    ev AS (
      SELECT l.*, t.text FROM links l JOIN documents t ON l.doc_id = t.doc_id)
    SELECT doc_id AS conv_id, begin, "end", surface, class_iri,
           substr(text, greatest(begin - 25, 0) + 1,
                  least("end" + 25, length(text)) - greatest(begin - 25, 0))
             AS evidence,
           begin - 25 < 0 AS clipped_left,
           "end" + 25 > length(text) AS clipped_right
    FROM ev
    """,
)
def qa18(spark, sf):
    """Evidence snippets for KG links: the ±25-char context window
    around each rank-1 mention span, with clip flags — the provenance
    column a production KG materializes next to every triple so a
    curator can audit a mapping without refetching the turn
    (functions/text.py:evidence_window_col, map-only; at scale text
    rides along from detect_mentions(carry_cols) with no re-join)."""
    from .functions.text import evidence_window_col

    links = _kg_fixture_links(spark, sf).where(F.col("rank") == 1)
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    ev = links.join(d, "conv_id").withColumn(
        "_ev", evidence_window_col(F.col("text"), F.col("begin"), F.col("end"), 25)
    )
    return ev.select(
        F.col("conv_id").cast("bigint").alias("conv_id"),
        "begin",
        "end",
        "surface",
        "class_iri",
        F.col("_ev.evidence").alias("evidence"),
        F.col("_ev.clipped_left").alias("clipped_left"),
        F.col("_ev.clipped_right").alias("clipped_right"),
    )


@_q(
    "qa19_negative_samples",
    """
    WITH pos AS (
      SELECT DISTINCT 'user:' || CAST(user_id AS VARCHAR) AS subj,
             event_type AS pred,
             'k:' || CAST(CAST(json_extract(props, '$.k') AS INT) % 50
                          AS VARCHAR) AS obj
      FROM events),
    vocab AS (
      SELECT obj AS neg_obj,
             CAST(row_number() OVER (ORDER BY md5(obj)) - 1 AS BIGINT) AS idx
      FROM (SELECT DISTINCT obj FROM pos)),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vocab),
    exp AS (
      SELECT p.*, gs.i FROM pos p
      CROSS JOIN (SELECT unnest(range(0, 2)) AS i) gs),
    hashed AS (
      SELECT *,
             CAST('0x' || substr(md5(subj || chr(31) || pred || chr(31)
                                     || obj || chr(31)
                                     || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
               % (SELECT n FROM nv) AS r
      FROM exp),
    cand AS (
      SELECT h.subj, h.pred, h.obj AS pos_obj, CAST(h.i AS BIGINT) AS neg_i,
             v.neg_obj
      FROM hashed h JOIN vocab v ON v.idx = h.r)
    SELECT c.subj, c.pred, c.pos_obj, c.neg_i, c.neg_obj
    FROM cand c
    LEFT JOIN pos p
      ON p.subj = c.subj AND p.pred = c.pred AND p.obj = c.neg_obj
    WHERE p.subj IS NULL
    """,
)
def qa19(spark, sf):
    """Filtered negative sampling for KG-embedding training
    (operators/negsample.py): ≤2 md5-derived corrupted-object triples
    per positive, with accidental positives anti-joined away (Bordes
    et al. filtered protocol).  No RNG anywhere — resumable and
    hash-exact; vocab is md5-ranked into a dense index (vocab-sized
    global window, broadcast back).  Positives here: (user, event_type,
    props.k-bucket) facts from events."""
    from .operators.negsample import negative_samples

    e = _t(spark, sf, "events")
    pos = e.select(
        F.concat(F.lit("user:"), F.col("user_id").cast("string")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("k:"),
            (F.get_json_object("props", "$.k").cast("int") % 50).cast("string"),
        ).alias("obj"),
    )
    return negative_samples(pos, k=2)


@_q(
    "qa20_oov_rate",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS w
      FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
    vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 500),
    marked AS (
      SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.w = v.w)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(round(CAST(sum(oov) * 1000000 AS DOUBLE) / count(*)) AS BIGINT)
             AS oov_micro
    FROM marked GROUP BY doc_id
    """,
)
def qa20(spark, sf):
    """Per-doc OOV rate vs the corpus top-500 word vocabulary
    (operators/textstats.py:oov_stats) — tokenizer-fit / encoding-junk
    signal.  The vocab is a TakeOrdered distributed top-k ((count desc,
    word) total order, no single-partition sort) broadcast against the
    exploded tokens; integer counts, one terminal micro division."""
    from .operators.textstats import oov_stats

    return oov_stats(_t(spark, sf, "documents"), vocab_size=500)


@_q(
    "qa21_source_leakage",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             lower(trim(regexp_replace(text,'\s+',' ','g'))) AS norm
      FROM documents),
    ph AS (SELECT norm, count(DISTINCT source) AS n_src FROM d GROUP BY 1)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ph.n_src > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaked,
           CAST(round(CAST(sum(CASE WHEN ph.n_src > 1 THEN 1 ELSE 0 END)
                           * 1000000 AS DOUBLE) / count(*)) AS BIGINT)
             AS leak_micro
    FROM d JOIN ph ON d.norm = ph.norm
    GROUP BY d.source
    """,
)
def qa21(spark, sf):
    """Per-source exact-content leakage share
    (operators/dedup.py:cross_source_leakage): fraction of a source's
    docs whose normalized text also appears in another source — the
    train/eval-contamination and syndication monitor.  sha2 of the
    normalized text is the narrow shuffle key (collision-free stand-in,
    oracle groups by the text itself); co-keyed join back, source agg."""
    from .operators.dedup import cross_source_leakage

    return cross_source_leakage(_t(spark, sf, "documents"))


@_q(
    "qa22_mann_whitney",
    """
    WITH vc AS (
      SELECT value AS v, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
    ranked AS (
      SELECT v, c, 2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS dmid
      FROM vc),
    gv AS (
      SELECT event_type, value AS v, CAST(count(*) AS BIGINT) AS ca
      FROM events GROUP BY 1, 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
    terms AS (
      SELECT event_type,
             CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(ca * dmid) AS BIGINT) AS rsum2
      FROM gv JOIN ranked USING (v) GROUP BY 1)
    SELECT event_type, n_a,
           CAST((SELECT n FROM tot) - n_a AS BIGINT) AS n_b,
           CAST(rsum2 - n_a * (n_a + 1) AS BIGINT) AS u2,
           CASE WHEN n_a > 0 AND (SELECT n FROM tot) - n_a > 0 THEN
             CAST(round(CAST((rsum2 - n_a * (n_a + 1)) * 1000000 AS DOUBLE)
                        / (2 * n_a * ((SELECT n FROM tot) - n_a))) AS BIGINT)
           END AS auc_micro
    FROM terms
    """,
)
def qa22(spark, sf):
    """Mann-Whitney U / AUC effect size of each event_type's value
    distribution vs the rest of the corpus
    (operators/stats.py:mann_whitney_u) — the nonparametric
    "did this segment's metric shift?" test.  Ranks come from the value
    HISTOGRAM (doubled midranks are exact integers, the only global
    window is over distinct values, vocabulary-sized) — rows are never
    globally sorted; u2 = 2·U stays bigint, one terminal division."""
    from .operators.stats import mann_whitney_u

    return mann_whitney_u(_t(spark, sf, "events"), "event_type", "value")


@_q(
    "qa23_turn_echo",
    r"""
    WITH turns AS (
      SELECT doc_id % 40 AS conv_id, doc_id // 40 AS turn_idx, text
      FROM documents),
    tok AS (
      SELECT conv_id, turn_idx,
             list_distinct(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS toks
      FROM turns),
    lagged AS (
      SELECT conv_id, turn_idx, toks,
             lag(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
      FROM tok)
    SELECT conv_id, turn_idx,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_intersect(toks, prev)) AS BIGINT) AS n_echoed,
           CASE WHEN len(toks) > 0 THEN
             CAST(round(CAST(len(list_intersect(toks, prev)) * 1000000
                             AS DOUBLE) / len(toks)) AS BIGINT)
           END AS echo_micro
    FROM lagged WHERE prev IS NOT NULL
    """,
)
def qa23(spark, sf):
    """Turn-echo rate: distinct-token overlap of each turn with its
    predecessor (operators/dialogue.py:turn_echo) — catches parroting
    assistants and copy-paste loops before transcripts enter training.
    Same folded conversation view as qa15; one conv-keyed window, JVM
    array_intersect, integer counts with one terminal micro division."""
    from .operators.dialogue import turn_echo

    d = _t(spark, sf, "documents")
    turns = d.select(
        (F.col("doc_id") % 40).alias("conv_id"),
        F.floor(F.col("doc_id") / 40).cast("long").alias("turn_idx"),
        "text",
    )
    return turn_echo(turns)


@_q(
    "qa24_curriculum",
    """
    WITH src AS (
      SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx
      FROM (SELECT DISTINCT source FROM documents)),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src),
    ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS BIGINT)
               AS rank_in_source
      FROM documents)
    SELECT r.doc_id, r.source, r.rank_in_source,
           CAST(r.rank_in_source * (SELECT n FROM ns) + s.sidx AS BIGINT)
             AS global_pos
    FROM ranked r JOIN src s ON r.source = s.source
    """,
)
def qa24(spark, sf):
    """Source-balanced curriculum interleave
    (operators/split.py:curriculum_interleave): easy→hard per-source
    ranks round-robined across sources via the CLOSED-FORM position
    rank·n_sources + source_idx — a trainer's consumption order with no
    global sort anywhere (the only global window is over the source
    vocabulary).  Difficulty proxy here: n_chars."""
    from .operators.split import curriculum_interleave

    return curriculum_interleave(_t(spark, sf, "documents"))


@_q(
    "qa25_nb_classifier",
    r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS w
      FROM documents),
    wc AS (SELECT source AS lbl, w, count(*) AS c FROM tok GROUP BY 1, 2),
    cls AS (SELECT source AS lbl, count(*) AS n_docs FROM documents GROUP BY 1),
    ctot AS (SELECT lbl, sum(c) AS t FROM wc GROUP BY 1),
    vocab AS (SELECT DISTINCT w FROM wc),
    vn AS (SELECT count(*) AS v FROM vocab),
    nd AS (SELECT count(*) AS n FROM documents),
    dense AS (
      SELECT vo.w, cl.lbl,
             CAST(round(ln((coalesce(wc.c, 0) + 1)
                           / CAST(ct.t + (SELECT v FROM vn) AS DOUBLE)) * 1e6)
                  AS BIGINT) AS lw
      FROM vocab vo CROSS JOIN cls cl
      JOIN ctot ct ON ct.lbl = cl.lbl
      LEFT JOIN wc ON wc.w = vo.w AND wc.lbl = cl.lbl),
    prior AS (
      SELECT lbl,
             CAST(round(ln(n_docs / CAST((SELECT n FROM nd) AS DOUBLE)) * 1e6)
                  AS BIGINT) AS p
      FROM cls),
    dt AS (SELECT doc_id, w, count(*) AS nw FROM tok GROUP BY 1, 2),
    score AS (
      SELECT dt.doc_id, d.lbl, CAST(sum(dt.nw * d.lw) AS BIGINT) AS s0
      FROM dt JOIN dense d USING (w) GROUP BY 1, 2),
    best AS (
      SELECT s.doc_id, s.lbl, s.s0 + pr.p AS s,
             row_number() OVER (
               PARTITION BY s.doc_id ORDER BY s.s0 + pr.p DESC, s.lbl) AS rn
      FROM score s JOIN prior pr ON pr.lbl = s.lbl)
    SELECT b.doc_id, d.source, b.lbl AS pred_source,
           CAST(b.s AS BIGINT) AS score_micro,
           CAST(CASE WHEN b.lbl = d.source THEN 1 ELSE 0 END AS BIGINT)
             AS correct
    FROM best b JOIN documents d USING (doc_id) WHERE b.rn = 1
    """,
)
def qa25(spark, sf):
    """Corpus-trained Multinomial Naive Bayes source classifier
    (operators/classify.py:nb_label_scores) — the fastText/CCNet-style
    quality-vs-source filter (GPT-3's WebText-vs-CommonCrawl gate) as a
    pure-DataFrame op.  Add-one smoothing; every ln is taken once per
    (word, class) model row as round(ln(ratio)*1e6); doc scores are
    integer sums of count x micro-log-prob; argmax via a per-doc window
    with a (score desc, label) total order.  The reference's analogue is
    the hand-tuned lexical comparator (services/comparator.py:16-43)."""
    from .operators.classify import nb_label_scores

    return nb_label_scores(_t(spark, sf, "documents"))


@_q(
    "qa26_dsir_weights",
    r"""
    WITH tok AS (
      SELECT doc_id, source = 'src0' AS is_t,
             CAST('0x' || substring(md5(w), 1, 4) AS BIGINT) % 64 AS b
      FROM (SELECT doc_id, source,
                   unnest(list_filter(
                     string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
                     w -> w <> '')) AS w
            FROM documents)),
    ct AS (SELECT b, count(*) AS c FROM tok WHERE is_t GROUP BY 1),
    cr AS (SELECT b, count(*) AS c FROM tok GROUP BY 1),
    tt AS (SELECT count(*) AS t FROM tok WHERE is_t),
    tr AS (SELECT count(*) AS t FROM tok),
    model AS (
      SELECT g.b,
             CAST(round(ln((coalesce(ct.c, 0) + 1)
                           / CAST((SELECT t FROM tt) + 64 AS DOUBLE)) * 1e6)
                  AS BIGINT)
             - CAST(round(ln((coalesce(cr.c, 0) + 1)
                             / CAST((SELECT t FROM tr) + 64 AS DOUBLE)) * 1e6)
                  AS BIGINT) AS llr
      FROM range(64) g(b)
      LEFT JOIN ct ON ct.b = g.b LEFT JOIN cr ON cr.b = g.b),
    pd AS (SELECT doc_id, b, count(*) AS n FROM tok GROUP BY 1, 2),
    agg AS (
      SELECT pd.doc_id, CAST(sum(pd.n) AS BIGINT) AS n_tokens,
             CAST(sum(pd.n * m.llr) AS BIGINT) AS weight_micro
      FROM pd JOIN model m USING (b) GROUP BY 1),
    topk AS (SELECT doc_id FROM agg ORDER BY weight_micro DESC, doc_id LIMIT 100)
    SELECT a.doc_id, a.n_tokens, a.weight_micro,
           CAST(CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS selected
    FROM agg a LEFT JOIN topk t ON a.doc_id = t.doc_id
    """,
)
def qa26(spark, sf):
    """DSIR hashed-unigram importance weights for target-domain data
    selection (operators/classify.py:dsir_weights; Xie et al. 2023).
    Target = src0 docs, raw = whole corpus; 64 md5-hashed buckets keep the
    model O(buckets) regardless of vocabulary; weights are integer sums of
    count x micro-log-likelihood-ratio; the selected flag is a TakeOrdered
    top-100 broadcast back (no global sort)."""
    from .operators.classify import dsir_weights

    return dsir_weights(_t(spark, sf, "documents"), target_label="src0")


@_q(
    "qa27_fuzzy_names",
    """
    WITH names AS (
      SELECT DISTINCT p_name AS name,
             string_split(p_name, ' ')[-1] AS block
      FROM part)
    SELECT a.name AS name_a, b.name AS name_b, a.block AS block,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
    """,
)
def qa27(spark, sf):
    """Typo-tolerant fuzzy-match pairs over DISTINCT part names
    (operators/linkage.py:edit_distance_pairs): Levenshtein in [1,3]
    between names sharing a last-token block — the edit-distance
    companion to qa-blocked exact linkage (q94), generalizing the
    reference's interactive candidate review (cli/interface.py:482-577).
    Distinct-first (vocabulary-sized quadratic term, bounded by block);
    F.levenshtein verified bit-identical to DuckDB's."""
    from .operators.linkage import edit_distance_pairs

    return edit_distance_pairs(_t(spark, sf, "part"), "p_name", max_dist=3)


_QA28_ORACLE = f"""
    WITH exact_tk AS (SELECT * FROM ({ORACLES["q29_cosine_topk"]}) tex),
    approx_tk AS (SELECT * FROM ({ORACLES["q30_lsh_topk"]}) tap)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS k_exact,
           CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_hit,
           CAST(round(CAST(sum(CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END)
                           * 1000000 AS DOUBLE) / count(*)) AS BIGINT)
             AS recall_micro
    FROM exact_tk e LEFT JOIN approx_tk a
      ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    GROUP BY e.query_id
    """


@_q("qa28_ann_recall", _QA28_ORACLE)
def qa28(spark, sf):
    """ANN recall@5 evaluation as a first-class distributed op
    (operators/evaluate.py:topk_recall): per-query |LSH top-5 ∩ exact
    top-5| / 5 between q30's multi-table LSH index and q29's brute-force
    baseline — the measurement a 100 TB pipeline records per index build
    (tests/test_ann_recall.py proves the bounds in-process; this lands
    them in the metrics table).  One equi-join on (query, id); the
    oracle composes the two already-exact q29/q30 oracles verbatim."""
    from .operators.evaluate import topk_recall

    return topk_recall(q30(spark, sf), q29(spark, sf))


@_q(
    "qa29_kl_divergence",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS w
      FROM documents),
    gw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
    wt AS (SELECT w, sum(c) AS cw FROM gw GROUP BY 1),
    gt AS (SELECT source, sum(c) AS tg FROM gw GROUP BY 1),
    tot AS (SELECT sum(c) AS t FROM gw),
    term AS (
      SELECT gw.source, gw.c,
             CAST(round(ln(CAST(gw.c * (SELECT t FROM tot) AS DOUBLE)
                           / CAST(gt.tg * wt.cw AS DOUBLE)) * 1e6) AS BIGINT)
               AS lr
      FROM gw JOIN wt USING (w) JOIN gt USING (source))
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(round(CAST(sum(c * lr) AS DOUBLE) / sum(c)) AS BIGINT)
             AS kl_micro
    FROM term GROUP BY 1
    """,
)
def qa29(spark, sf):
    """Per-source KL divergence of the token distribution from the corpus
    distribution (operators/stats.py:kl_divergence) — the vocabulary-shift
    drift monitor complementing entropy (qa07) and numeric KS (qa08).
    Only observed (source, word) rows contribute; ln once per distinct
    row on a single integer-product ratio; integer sum, one terminal
    division."""
    from .operators.stats import kl_divergence

    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    tok = d.select("source", F.explode(words_col(F.col("text"))).alias("w"))
    return kl_divergence(tok, "source", "w")


@_q(
    "qa30_zipf_slope",
    r"""
    WITH tok AS (
      SELECT unnest(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS w
      FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
    xy AS (
      SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, w)
                                AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM cnt),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM xy)
    SELECT n AS n_types,
           CAST(n * sxy - sx * sy AS BIGINT) AS sxy_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS sxx_den,
           CAST(round(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_micro
    FROM m
    """,
)
def qa30_(spark, sf):
    """Zipf-law slope of the corpus word-frequency distribution
    (operators/stats.py:zipf_moments): OLS of ln(count) on ln(rank) in
    integer MILLI-nat moments — natural text ≈ -1, template spam much
    steeper.  Rank window is vocabulary-sized; five exact integer
    moments; slope = one terminal bigint division."""
    from .operators.stats import zipf_moments

    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    tok = d.select(F.explode(words_col(F.col("text"))).alias("w"))
    return zipf_moments(tok, "w")


@_q(
    "qa31_assortativity",
    """
    WITH e AS (SELECT DISTINCT user_id AS s, event_type AS d FROM events),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS dx FROM e GROUP BY 1),
    dd AS (SELECT d, CAST(count(*) AS BIGINT) AS dy FROM e GROUP BY 1),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
                 CAST(sum(dx) AS BIGINT) AS sx,
                 CAST(sum(dy) AS BIGINT) AS sy,
                 CAST(sum(dx * dy) AS BIGINT) AS sxy,
                 CAST(sum(dx * dx) AS BIGINT) AS sxx,
                 CAST(sum(dy * dy) AS BIGINT) AS syy
          FROM e JOIN ds USING (s) JOIN dd USING (d))
    SELECT n_edges, sx, sy, sxy, sxx, syy,
           CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
           THEN CAST(round((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           * 1000000
                           / (sqrt(CAST(n_edges AS DOUBLE)
                                   * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * sqrt(CAST(n_edges AS DOUBLE)
                                     * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))))
                     AS BIGINT)
           END AS r_micro
    FROM m
    """,
)
def qa31(spark, sf):
    """Degree assortativity of the user↔event_type bipartite graph
    (operators/stats.py:assortativity_moments) — the hub-structure probe
    that decides whether a KG build needs skew routing
    (operators/skewjoin.py) before its hot joins.  Exact bigint degree
    moments are the contract output; r_micro is one deterministic double
    expression over them."""
    from .operators.stats import assortativity_moments

    e = _t(spark, sf, "events").select(
        F.col("user_id").alias("src"), F.col("event_type").alias("dst")
    ).distinct()
    return assortativity_moments(e)


@_q(
    "qa32_centroid_drift",
    """
    WITH ex AS (
      SELECT label AS lbl, i,
             CAST(round(CAST(e AS DOUBLE) * 1e6) AS BIGINT) AS em
      FROM (SELECT label, unnest(embedding) AS e,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)),
    cl AS (SELECT lbl, i,
                  CAST(round(CAST(sum(em) AS DOUBLE) / count(*)) AS BIGINT)
                    AS c
           FROM ex GROUP BY 1, 2),
    cg AS (SELECT i,
                  CAST(round(CAST(sum(em) AS DOUBLE) / count(*)) AS BIGINT)
                    AS g
           FROM ex GROUP BY 1),
    m AS (SELECT lbl,
                 CAST(sum(c * g) AS BIGINT) AS dot,
                 CAST(sum(c * c) AS BIGINT) AS norm_l,
                 CAST(sum(g * g) AS BIGINT) AS norm_g
          FROM cl JOIN cg USING (i) GROUP BY 1),
    nv AS (SELECT label AS lbl, CAST(count(*) AS BIGINT) AS n_vecs
           FROM embeddings GROUP BY 1)
    SELECT m.lbl AS label, nv.n_vecs, m.dot, m.norm_l, m.norm_g,
           CAST(round(CAST(m.dot AS DOUBLE) * 1e6
                      / (sqrt(CAST(m.norm_l AS DOUBLE))
                         * sqrt(CAST(m.norm_g AS DOUBLE)))) AS BIGINT)
             AS cos_micro
    FROM m JOIN nv ON m.lbl = nv.lbl
    """,
)
def qa32(spark, sf):
    """Per-label embedding-centroid drift vs the corpus centroid
    (operators/similarity.py:centroid_drift) — the per-ingest-batch
    "did this source's embedding distribution move?" monitor.  Micro-int
    quantization once per element, exact integer per-dim sums, centroid
    coords re-quantized to ~1e6 by one rounded division (bigint-safe at
    ANY group size), exact integer dot/norms over the fixed dim count,
    cos_micro one deterministic double expression."""
    from .operators.similarity import centroid_drift

    return centroid_drift(_t(spark, sf, "embeddings"))


_QA33_ORACLE = f"""
    WITH links AS (SELECT * FROM ({ORACLES["kg_links_transcripts"]}) tl),
    gold AS (
      SELECT DISTINCT conv_id, turn_idx, begin, "end", class_iri
      FROM links WHERE rank = 1),
    marked AS (
      SELECT l.score_micro AS s,
             CASE WHEN g.class_iri IS NULL THEN 0 ELSE 1 END AS tp
      FROM links l LEFT JOIN gold g
        ON l.conv_id = g.conv_id AND l.turn_idx = g.turn_idx
       AND l.begin = g.begin AND l."end" = g."end"
       AND l.class_iri = g.class_iri),
    per AS (SELECT s, count(*) AS np, sum(tp) AS nt FROM marked GROUP BY 1),
    cum AS (
      SELECT s,
             CAST(sum(np) OVER (ORDER BY s DESC) AS BIGINT) AS n_pred,
             CAST(sum(nt) OVER (ORDER BY s DESC) AS BIGINT) AS n_tp
      FROM per),
    ng AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gold)
    SELECT s AS threshold_micro, n_pred, n_tp,
           (SELECT n FROM ng) AS n_gold,
           CAST(round(CAST(n_tp * 1000000 AS DOUBLE) / n_pred) AS BIGINT)
             AS precision_micro,
           CAST(round(CAST(n_tp * 1000000 AS DOUBLE) / (SELECT n FROM ng))
                AS BIGINT) AS recall_micro,
           CAST(round(CAST(n_tp * 2 * 1000000 AS DOUBLE)
                      / (n_pred + (SELECT n FROM ng))) AS BIGINT) AS f1_micro
    FROM cum
    """


@_q("qa33_pr_sweep", _QA33_ORACLE)
def qa33(spark, sf):
    """Precision/recall/F1 threshold sweep over the REAL link-scoring
    output (operators/evaluate.py:pr_sweep): candidates = every scored
    link kg_links emits, gold = the rank-1 accepted mappings — the curve
    a KG build reads to place its acceptance cutoff against the
    north-rule P/R >= 0.95 bar.  Integer counts; P, R, and F1
    (= 2TP/(n_pred+n_gold)) are each one terminal division; the only
    window is over the DISTINCT score domain (decision-table-sized)."""
    from .operators.evaluate import pr_sweep

    # pinned: the scored-link table feeds THREE subplans (candidates,
    # gold, and the sweep's score domain) — without the lineage cut the
    # full detect+link pipeline replays per reference (3x 15 CPU-s at
    # sf0.1, the q61/qa42 self-reference recompute class)
    links = kg_links(spark, sf).localCheckpoint()
    keys = ["conv_id", "turn_idx", "begin", "end", "class_iri"]
    gold = links.where(F.col("rank") == 1).select(*keys)
    return pr_sweep(links, gold, keys)


@_q(
    "qa34_decayed_edges",
    """
    WITH pd AS (
      SELECT user_id, event_type,
             epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3),
    r AS (SELECT max(d) AS rd FROM pd),
    wtd AS (
      SELECT user_id, event_type, n,
             CAST(round(exp(CAST((SELECT rd FROM r) - d AS DOUBLE)
                            / CAST(-7 AS DOUBLE)) * 1000000) AS BIGINT) AS w
      FROM pd)
    SELECT user_id, event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(n * w) AS BIGINT) AS decayed_micro
    FROM wtd GROUP BY 1, 2
    """,
)
def qa34(spark, sf):
    """Recency-decayed edge strength over the user↔event_type graph
    (operators/temporal.py:decayed_edge_weights): per-pair sum of
    exp(-age_days/7), the standard recency weighting that fades stale KG
    co-occurrence edges without a hard window.  Occurrences bucket to
    integer epoch-days first; exp is evaluated once per distinct
    (pair, age) row and micro-rounded (Spark↔DuckDB exp parity verified
    over the integer-age domain); weighted sums stay integer."""
    from .operators.temporal import decayed_edge_weights

    return decayed_edge_weights(
        _t(spark, sf, "events"), "user_id", "event_type", "ts", tau_days=7
    )


@_q(
    "qa35_ontology_coverage",
    f"""
    WITH {_kgf.DETECT_CTES},
    {_kgf.decision_values_sql()},
    links AS (
      SELECT c.doc_id, d.pattern, d.ontology
      FROM cand c JOIN dec d ON c.span = d.pattern WHERE d.rank = 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM links)
    SELECT ontology,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT pattern) AS BIGINT) AS n_patterns,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(round(CAST(count(*) * 1000000 AS DOUBLE)
                      / (SELECT n FROM tot)) AS BIGINT) AS share_micro
    FROM links GROUP BY 1
    """,
)
def qa35(spark, sf):
    """Per-ontology mention-coverage report over the REAL detect+link
    path — the distributed analogue of the reference's JSON mapping
    report (core/generator.py:328-338): accepted (rank-1) mentions,
    distinct matched patterns, distinct documents, and each ontology's
    share of all mentions.  One groupBy over the link output; the total
    is a single scalar aggregate."""
    # pinned: the link table is read once for the scalar total and once
    # for the per-ontology agg — one detect+link pass, not two
    links = (
        _kg_fixture_links(spark, sf).where(F.col("rank") == 1).localCheckpoint()
    )
    total = links.count()
    return links.groupBy("ontology").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.countDistinct("pattern").cast("long").alias("n_patterns"),
        F.countDistinct("conv_id").cast("long").alias("n_docs"),
        F.round((F.count("*") * 1_000_000).cast("double") / F.lit(int(total)))
        .cast("long")
        .alias("share_micro"),
    )


@_q(
    "qa36_vocabulary_gaps",
    f"""
    WITH {_kgf.DETECT_CTES},
    {_kgf.decision_values_sql()},
    unmatched AS (
      SELECT c.span
      FROM cand c LEFT JOIN (SELECT DISTINCT pattern FROM dec) d
        ON c.span = d.pattern
      WHERE d.pattern IS NULL),
    cnt AS (SELECT span, CAST(count(*) AS BIGINT) AS n
            FROM unmatched GROUP BY 1)
    SELECT span, n FROM cnt ORDER BY n DESC, span LIMIT 50
    """,
)
def qa36(spark, sf):
    """Ontology gap mining (operators/textstats.py:ngram_gap_candidates):
    the 50 most frequent unigram/bigram spans the dictionary CANNOT match
    — the curation queue for growing the term set, replacing the
    reference's per-term interactive additions (cli/interface.py:361-366)
    with one corpus-wide pass.  Broadcast anti-join against the pattern
    dictionary; top-k via TakeOrdered."""
    from .operators.textstats import ngram_gap_candidates

    d = _t(spark, sf, "documents")
    pats = spark.createDataFrame(
        sorted({(r["pattern"],) for r in _kgf.decision_rows()}), ["pattern"]
    )
    return ngram_gap_candidates(d, pats, n_top=50)


_QA37_ORACLE = f"""
    WITH cand_p AS (
      SELECT DISTINCT id_a, id_b FROM ({ORACLES["q26_minhash_lsh_pairs"]}) tc),
    truth_p AS (
      SELECT DISTINCT id_a, id_b FROM ({ORACLES["q27_ngram_jaccard"]}) tt),
    j AS (
      SELECT CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS fc,
             CASE WHEN t.id_a IS NULL THEN 0 ELSE 1 END AS ft
      FROM cand_p c FULL OUTER JOIN truth_p t
        ON c.id_a = t.id_a AND c.id_b = t.id_b)
    SELECT CAST(sum(ft) AS BIGINT) AS n_truth,
           CAST(sum(fc) AS BIGINT) AS n_cand,
           CAST(sum(fc * ft) AS BIGINT) AS n_hit,
           CAST(round(CAST(sum(fc * ft) * 1000000 AS DOUBLE) / sum(ft))
                AS BIGINT) AS recall_micro,
           CAST(round(CAST(sum(fc * ft) * 1000000 AS DOUBLE) / sum(fc))
                AS BIGINT) AS precision_micro
    FROM j
    """


@_q("qa37_lsh_pair_metrics", _QA37_ORACLE)
def qa37(spark, sf):
    """Dedup-index tuning metrics (operators/evaluate.py:pair_set_metrics):
    recall AND candidate precision of q26's MinHash-LSH banded pairs
    against q27's exact n-gram-Jaccard >= 0.10 ground truth — the two
    numbers that size bands/rows-per-band before a 100 TB dedup run
    ("measure, don't guess" as a first-class op; the q29/q30 analogue
    for pair generation).  One full-outer join + one aggregate; the
    oracle composes the two already-exact oracles verbatim."""
    from .operators.evaluate import pair_set_metrics

    return pair_set_metrics(
        q26(spark, sf), q27(spark, sf), ["id_a", "id_b"]
    )


_QA38_ORACLE = f"""
    WITH qscore AS (SELECT * FROM ({ORACLES["q59_quality_score"]}) tq),
    flags AS (
      SELECT doc.source,
             CASE WHEN q.quality_milli < 60000 THEN 1 ELSE 0 END AS defect
      FROM qscore q JOIN documents doc ON q.doc_id = doc.doc_id),
    per AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(defect) AS BIGINT) AS k
            FROM flags GROUP BY 1)
    SELECT source, n, k,
           CAST(round(CAST(k * 1000000 AS DOUBLE) / n) AS BIGINT)
             AS rate_micro,
           CAST(round((CAST(k + 2 AS DOUBLE)
                       - 2 * sqrt(CAST(k * (n - k) AS DOUBLE)
                                  / CAST(n AS DOUBLE) + 1))
                      * 1000000 / CAST(n + 4 AS DOUBLE)) AS BIGINT)
             AS wilson_lo_micro,
           CAST(round((CAST(k + 2 AS DOUBLE)
                       + 2 * sqrt(CAST(k * (n - k) AS DOUBLE)
                                  / CAST(n AS DOUBLE) + 1))
                      * 1000000 / CAST(n + 4 AS DOUBLE)) AS BIGINT)
             AS wilson_hi_micro
    FROM per
    """


@_q("qa38_wilson_defects", _QA38_ORACLE)
def qa38(spark, sf):
    """Per-source low-quality rate with Wilson score bounds (z=2)
    (operators/stats.py:wilson_bounds) — the monitor that flags a source
    only when its LOWER bound clears the bar, separating real defect
    spikes from small-sample noise.  Defect = q59 composite quality
    < 60 points; the bound is one deterministic double expression over
    exact integer (n, k); oracle composes the q59 oracle verbatim."""
    from .operators.stats import wilson_bounds
    from .operators.textstats import with_quality_score

    d = _t(spark, sf, "documents")
    flagged = with_quality_score(d, "text").select(
        "source",
        (F.round(F.col("quality_score") * 1000).cast("long") < 60000).alias(
            "defect"
        ),
    )
    return wilson_bounds(flagged, "source", "defect")


@_q(
    "qa39_split_balance",
    """
    WITH cell AS (
      SELECT CASE
               WHEN substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'cccccccd' THEN 'train'
               WHEN substr(md5('|' || CAST(doc_id AS VARCHAR)), 1, 8)
                    < 'e6666666' THEN 'valid'
               ELSE 'test'
             END AS split,
             source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2),
    r AS (SELECT split, CAST(sum(o) AS BIGINT) AS rr FROM cell GROUP BY 1),
    c AS (SELECT source, CAST(sum(o) AS BIGINT) AS cc FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
    term AS (
      SELECT CAST(round(CAST(cell.o * t.n - r.rr * c.cc AS DOUBLE)
                        * CAST(cell.o * t.n - r.rr * c.cc AS DOUBLE)
                        * 1000000
                        / (CAST(t.n AS DOUBLE)
                           * CAST(r.rr * c.cc AS DOUBLE))) AS BIGINT) AS t_m
      FROM cell JOIN r USING (split) JOIN c USING (source) CROSS JOIN tot t)
    SELECT CAST((SELECT count(*) FROM r) AS BIGINT) AS n_rows_cat,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_cols_cat,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(((SELECT count(*) FROM r) - 1)
                * ((SELECT count(*) FROM c) - 1) AS BIGINT) AS dof,
           CAST(sum(t_m) AS BIGINT) AS chi2_micro
    FROM term
    """,
)
def qa39(spark, sf):
    """Chi-square independence of (split x source)
    (operators/stats.py:chi2_contingency) — validates that the
    deterministic hash split (q62) is balanced across sources; the
    categorical companion to ks_drift.  Exact integer contingency/
    marginals; each cell's (O*N - R*C)^2/(N*R*C) term is one double
    expression micro-rounded BEFORE the integer sum (no double
    accumulation)."""
    from .operators.split import train_test_split
    from .operators.stats import chi2_contingency

    d = train_test_split(_t(spark, sf, "documents"), "doc_id")
    return chi2_contingency(d, "split", "source")


_QA40_ORACLE = f"""
    WITH comp AS (SELECT * FROM ({_q64_oracle_sql()}) t64),
    assign AS (
      SELECT coalesce(c.cluster_rep, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    sizes AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz
              FROM assign GROUP BY 1)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """


@_q("qa40_cluster_profile", _QA40_ORACLE)
def qa40(spark, sf):
    """Near-dup family size histogram over the full corpus
    (operators/dedup.py:cluster_size_profile): q64's transitive clusters
    plus size-1 singletons for unpaired docs — long-tail-of-pairs vs
    giant-template-families, the dedup outcome report.  Oracle composes
    the q64 WITH RECURSIVE closure verbatim."""
    from .operators.dedup import cluster_size_profile

    d = _t(spark, sf, "documents")
    return cluster_size_profile(q64(spark, sf), d)


@_q(
    "qa41_cdc_upsert",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(round(o_totalprice * 100) AS BIGINT) AS pc
      FROM orders),
    chg AS (
      SELECT k, 'UPD1' AS st, pc + 111 AS pc, 1 AS seq, 'U' AS op
      FROM base
      WHERE substr(md5('cdc1|' || CAST(k AS VARCHAR)), 1, 1) < '8'
      UNION ALL
      SELECT k, 'UPD2', pc + 222, 2, 'U'
      FROM base
      WHERE substr(md5('cdc2|' || CAST(k AS VARCHAR)), 1, 1) < '6'
      UNION ALL
      SELECT k, st, pc, 3, 'D'
      FROM base
      WHERE substr(md5('cdc3|' || CAST(k AS VARCHAR)), 1, 1) < '3'),
    merged AS (
      SELECT k, st, pc, -1 AS seq, 'B' AS op FROM base
      UNION ALL SELECT k, st, pc, seq, op FROM chg),
    latest AS (
      SELECT k, st, pc, op,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM merged)
    SELECT k AS o_orderkey, st AS o_orderstatus, CAST(pc AS BIGINT) AS price_cents
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def qa41(spark, sf):
    """CDC changelog apply / MERGE INTO (operators/cdc.py:apply_changes):
    base snapshot + I/U/D changelog -> next snapshot via ONE window
    (union, row_number by seq desc, drop winning deletes) — no join,
    one hash shuffle on the key; the lakehouse upsert re-expressed for
    plain parquet.  Changelog is md5-derived from orders in BOTH
    engines (the q62/qa19 deterministic-derivation idiom); money as
    integer cents so every payload survives hashing bit-exact."""
    from .operators.cdc import apply_changes

    o = _t(spark, sf, "orders")
    base = o.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )

    def _nib(tag):
        return F.substring(
            F.md5(F.concat(F.lit(tag + "|"), F.col("o_orderkey").cast("string"))),
            1,
            1,
        )

    chg1 = base.where(_nib("cdc1") < "8").select(
        "o_orderkey",
        F.lit("UPD1").alias("o_orderstatus"),
        (F.col("price_cents") + 111).alias("price_cents"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    chg2 = base.where(_nib("cdc2") < "6").select(
        "o_orderkey",
        F.lit("UPD2").alias("o_orderstatus"),
        (F.col("price_cents") + 222).alias("price_cents"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    chg3 = base.where(_nib("cdc3") < "3").select(
        "o_orderkey",
        "o_orderstatus",
        "price_cents",
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    changes = chg1.unionByName(chg2).unionByName(chg3)
    return apply_changes(
        base, changes, key_cols=["o_orderkey"], seq_col="seq", op_col="op"
    )


@_q(
    "qa42_prefix_jaccard",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w
            FROM documents)
      WHERE w <> ''),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, n_common,
           CAST(round(n_common / (sa.n + sb.n - n_common) * 1e6) AS BIGINT)
             AS jaccard_micro
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1000000 >= 600000 * (sa.n + sb.n - n_common)
    """,
)
def qa42(spark, sf):
    """EXACT set-similarity join via prefix filtering
    (operators/setjoin.py:prefix_jaccard_pairs — AllPairs/PPJoin): all
    pairs with token Jaccard >= 0.6, zero false negatives, candidates
    bounded by rarest-token prefixes (the deterministic complement to
    q26's probabilistic MinHash-LSH).  Oracle is the brute-force
    all-pairs join — prefix filtering is lossless, so the outputs are
    set-identical; threshold compared on integers in both engines."""
    from .operators.setjoin import prefix_jaccard_pairs

    d = _t(spark, sf, "documents")
    return prefix_jaccard_pairs(d, "text", "doc_id", threshold=0.6)


def _qa43_oracle_sql() -> str:
    """Mirror of operators/layout.py: 16-bit grid cells per dim, Morton
    interleave (dim d bit i -> position i*2+d), 8-bit bucket, per-bucket
    min/max/width stats — all integer arithmetic, generated as explicit
    shift/mask terms exactly like the Spark side builds its Columns."""
    zb, nd = 16, 2
    terms = []
    for d, cell in enumerate(("ca", "cb")):
        for i in range(zb):
            terms.append(f"((({cell} >> {i}) & 1) << {i * nd + d})")
    zkey = " + ".join(terms)
    return f"""
    WITH ext AS (
      SELECT CAST(min(user_id) AS BIGINT) AS lo_u,
             CAST(max(user_id) AS BIGINT) AS hi_u,
             CAST(min(epoch_us(ts)) AS BIGINT) AS lo_t,
             CAST(max(epoch_us(ts)) AS BIGINT) AS hi_t
      FROM events),
    cells AS (
      SELECT CAST(floor((user_id - lo_u) * 65535
                        / greatest(hi_u - lo_u, 1)) AS BIGINT) AS ca,
             CAST(floor((epoch_us(ts) - lo_t) * 65535
                        / greatest(hi_t - lo_t, 1)) AS BIGINT) AS cb
      FROM events CROSS JOIN ext),
    keyed AS (SELECT ca, cb, CAST({zkey} AS BIGINT) AS zkey FROM cells),
    grp AS (
      SELECT zkey >> 24 AS bucket,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(ca) AS user_id_cell_min, max(ca) AS user_id_cell_max,
             min(cb) AS t_us_cell_min,    max(cb) AS t_us_cell_max
      FROM keyed GROUP BY 1)
    SELECT CAST(bucket AS BIGINT) AS bucket, n_rows,
           user_id_cell_min, t_us_cell_min,
           user_id_cell_max, t_us_cell_max,
           CAST(round((user_id_cell_max - user_id_cell_min + 1) / 65536 * 1e6)
                AS BIGINT) AS user_id_width_micro,
           CAST(round((t_us_cell_max - t_us_cell_min + 1) / 65536 * 1e6)
                AS BIGINT) AS t_us_width_micro
    FROM grp
    """


@_q("qa43_zorder_layout", _qa43_oracle_sql())
def qa43(spark, sf):
    """Z-order / Morton data layout + clustering-quality report
    (operators/layout.py) — the multi-dimensional file-skipping lever:
    interleave (user_id, event-time) bits so zone-map min/max stays
    narrow on BOTH dims per bucket ("file"), where a linear sort keeps
    only its leading dim narrow.  Pure integer shift/mask arithmetic,
    bit-identical in any engine; widths are micro-fractions of the
    16-bit grid."""
    from .operators.layout import zorder_layout_stats

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    return zorder_layout_stats(e, ["user_id", "t_us"], bucket_bits=8)


@_q(
    "qa44_template_docs",
    """
    WITH normed AS (
      SELECT doc_id, source,
             lower(trim(regexp_replace(text,'\\s+',' ','g'))) AS nrm
      FROM documents),
    fps AS (
      SELECT doc_id, source, CAST(length(nrm) AS BIGINT) AS len,
             'head' AS kind, md5(substr(nrm, 1, 48)) AS fp
      FROM normed
      UNION ALL
      SELECT doc_id, source, CAST(length(nrm) AS BIGINT) AS len,
             'tail' AS kind,
             md5(substr(nrm, greatest(length(nrm) - 47, 1), 48)) AS fp
      FROM normed),
    grp AS (
      SELECT kind, fp,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             min(doc_id) AS rep_doc_id,
             CAST(sum(len) AS BIGINT) AS sl
      FROM fps GROUP BY 1, 2)
    SELECT kind, fp, n_docs, n_sources, rep_doc_id,
           CAST(round(sl / n_docs * 1e6) AS BIGINT) AS avg_chars_micro
    FROM grp WHERE n_docs >= 2
    """,
)
def qa44(spark, sf):
    """Boilerplate / template-frame detection
    (operators/boilerplate.py:template_groups): recurring md5 groups of
    the first / last 48 normalized chars, head and tail frames detected
    independently — catches shared preambles and footers whose VARIABLE
    middle defeats whole-doc near-dup similarity.  One explode(2) + one
    uniform-key groupBy; tail substring uses explicit positive start
    (negative-start semantics differ across engines)."""
    from .operators.boilerplate import template_groups

    d = _t(spark, sf, "documents")
    return template_groups(d, "text", "doc_id", "source", edge_chars=48, min_docs=2)


@_q(
    "qa45_source_containment",
    """
    WITH tok AS (
      SELECT DISTINCT src, w
      FROM (SELECT source AS src,
                   unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w
            FROM documents)
      WHERE w <> ''),
    sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    common AS (
      SELECT a.src AS src_a, b.src AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM tok a JOIN tok b ON a.w = b.w AND a.src < b.src
      GROUP BY 1, 2)
    SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
           CAST(round(n_common / sa.n * 1e6) AS BIGINT) AS cont_a_micro,
           CAST(round(n_common / sb.n * 1e6) AS BIGINT) AS cont_b_micro,
           CAST(round(n_common / (sa.n + sb.n - n_common) * 1e6) AS BIGINT)
             AS jaccard_micro
    FROM common
    JOIN sizes sa ON sa.src = src_a
    JOIN sizes sb ON sb.src = src_b
    """,
)
def qa45(spark, sf):
    """Source-pair vocabulary containment matrix
    (operators/setjoin.py:source_token_containment): directional
    |V_A∩V_B|/|V_A| over the distinct (source, token) inverted index —
    the mixture-design companion to qa21's exact-dup leakage (are two
    feeds the same upstream corpus?).  Join fan-out per token is capped
    by n_sources² regardless of corpus size; source-size dims broadcast."""
    from .operators.setjoin import source_token_containment

    d = _t(spark, sf, "documents")
    return source_token_containment(d, "text", "doc_id", "source")


@_q(
    "qa46_hard_negatives",
    """
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
               AS centroid_id,
             embedding AS cvec
      FROM embeddings
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 16),
    assigned AS (
      SELECT vec_id, embedding, label, list_id FROM (
        SELECT e.vec_id, e.embedding, e.label, c.centroid_id AS list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CAST(round(list_cosine_similarity(
                            e.embedding::DOUBLE[], c.cvec::DOUBLE[]) * 1e6)
                          AS BIGINT) DESC,
                          c.centroid_id) AS r
        FROM embeddings e CROSS JOIN cent c)
      WHERE r = 1),
    probes AS (
      SELECT query_id, qvec, query_label, list_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qvec,
               e.label AS query_label, c.centroid_id AS list_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY CAST(round(list_cosine_similarity(
                            e.embedding::DOUBLE[], c.cvec::DOUBLE[]) * 1e6)
                          AS BIGINT) DESC,
                          c.centroid_id) AS r
        FROM embeddings e CROSS JOIN cent c)
      WHERE r <= 4),
    joined AS (
      SELECT p.query_id, a.vec_id, p.query_label, a.label AS neg_label,
             CAST(round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               p.qvec::DOUBLE[]) * 1e6)
                  AS BIGINT) AS cosine_micro
      FROM assigned a JOIN probes p ON a.list_id = p.list_id
      WHERE a.label <> p.query_label AND a.vec_id <> p.query_id)
    SELECT query_id, vec_id, query_label, neg_label, cosine_micro,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_micro DESC, vec_id) AS rnk
          FROM joined WHERE cosine_micro < 950000)
    WHERE rnk <= 5
    """,
)
def qa46(spark, sf):
    """Hard-negative mining for retrieval/contrastive training
    (operators/similarity.py:ivf_hard_negatives): per vector, top-5
    most-similar DIFFERENT-label vectors below a 0.95-cosine false-
    negative ceiling, candidates from the q48 IVF coarse quantizer
    (probe 4 of 16 md5-ranked lists) — the index-shortlist→exact-rescore
    architecture that replaces all-pairs at 100 TB.  Oracle mirrors the
    q48 CTEs plus the label/self/ceiling filters verbatim."""
    from .operators.similarity import ivf_hard_negatives

    e = _t(spark, sf, "embeddings")
    return ivf_hard_negatives(e, n_centroids=16, nprobe=4, k=5,
                              ceiling_micro=950_000)


@_q(
    "qa47_cusum_shifts",
    """
    WITH counts AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS d,
             CAST(sum(n) AS BIGINT) AS t
      FROM counts GROUP BY 1)
    SELECT c.event_type, c.day, c.n,
           CAST(t.d * c.n - t.t AS BIGINT) AS dev,
           CAST(sum(t.d * c.n - t.t) OVER (
                  PARTITION BY c.event_type ORDER BY c.day) AS BIGINT) AS cusum,
           (abs(sum(t.d * c.n - t.t) OVER (
                  PARTITION BY c.event_type ORDER BY c.day)) * 5
              > 1 * t.d * t.t) AS is_shift
    FROM counts c JOIN tot t USING (event_type)
    """,
)
def qa47(spark, sf):
    """CUSUM mean-shift detection over per-type daily event counts
    (operators/temporal.py:cusum_changepoints, Page 1954): dev_d =
    D·n_d − T keeps the count-minus-mean deviation integer; the running
    sum flags sustained rate changes that single-day burst rules (q83/
    qa05) miss.  One count shuffle; totals and the running sum ride the
    same partitioning."""
    from .operators.temporal import cusum_changepoints

    e = _t(spark, sf, "events")
    return cusum_changepoints(e, "event_type", "ts", flag_num=1, flag_den=5)


@_q(
    "qa48_mad_outliers",
    """
    WITH base AS (
      SELECT source AS g, CAST(n_chars AS BIGINT) AS x, doc_id AS id
      FROM documents),
    ranked AS (
      SELECT g, x, id,
             row_number() OVER (PARTITION BY g ORDER BY x, id) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM base),
    med AS (SELECT g, x AS med FROM ranked WHERE r = (n + 1) // 2),
    devs AS (
      SELECT b.g, b.x, b.id, m.med, abs(b.x - m.med) AS dev
      FROM base b JOIN med m USING (g)),
    dranked AS (
      SELECT g, dev, id,
             row_number() OVER (PARTITION BY g ORDER BY dev, id) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM devs),
    mad AS (SELECT g, dev AS mad FROM dranked WHERE r = (n + 1) // 2)
    SELECT d.g AS source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(d.med) AS BIGINT) AS med,
           CAST(min(m.mad) AS BIGINT) AS mad,
           CAST(sum(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(max(d.dev) AS BIGINT) AS max_abs_dev
    FROM devs d JOIN mad m USING (g)
    GROUP BY 1
    """,
)
def qa48(spark, sf):
    """Robust per-source length-outlier report via integer median/MAD
    (operators/stats.py:mad_outlier_summary): lower median = value at
    rank ⌊(n+1)/2⌋ under the (value, id) total order, outlier ⟺
    |x−med| > 3·MAD — the quality gate mean±kσ can't give you when a
    handful of pathological giant docs drag the mean.  No floats
    anywhere."""
    from .operators.stats import mad_outlier_summary

    d = _t(spark, sf, "documents")
    return mad_outlier_summary(d, "source", "n_chars", "doc_id", k=3)


_QA49_ORACLE = f"""
    WITH {_WORD_EDGES_CTE},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    bd AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
            FROM bd GROUP BY 1),
    mrow AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
    nodes AS (SELECT DISTINCT a AS node FROM bd),
    l0 AS (SELECT node, node AS label FROM nodes),
    c1 AS (
      SELECT bd.a AS node, l0.label, count(*) AS n
      FROM bd JOIN l0 ON l0.node = bd.b GROUP BY 1, 2),
    p1 AS (
      SELECT node, label FROM c1
      QUALIFY row_number() OVER (PARTITION BY node
        ORDER BY n DESC, label ASC) = 1),
    lab AS (
      SELECT nodes.node, coalesce(p1.label, nodes.node) AS label
      FROM nodes LEFT JOIN p1 USING (node)),
    tagged AS (
      SELECT la.label AS la, lb.label AS lb
      FROM und JOIN lab la ON la.node = und.a
               JOIN lab lb ON lb.node = und.b),
    inc AS (SELECT la AS label, CAST(count(*) AS BIGINT) AS in_edges
            FROM tagged WHERE la = lb GROUP BY 1),
    vol AS (
      SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.deg) AS BIGINT) AS deg_sum
      FROM lab l JOIN deg d ON d.node = l.node GROUP BY 1),
    base AS (
      SELECT v.label, v.n_nodes, v.deg_sum,
             CAST(coalesce(i.in_edges, 0) AS BIGINT) AS in_edges, mrow.m
      FROM vol v LEFT JOIN inc i USING (label) CROSS JOIN mrow)
    SELECT label, n_nodes, in_edges, deg_sum,
           CAST(deg_sum - 2 * in_edges AS BIGINT) AS cut_edges,
           CAST(round(in_edges * 1000000 / m)
                - round(deg_sum * deg_sum * 250000 / (m * m)) AS BIGINT)
             AS modularity_micro,
           CAST(round((deg_sum - 2 * in_edges) * 1000000
                / greatest(least(deg_sum, 2 * m - deg_sum), 1)) AS BIGINT)
             AS conductance_micro
    FROM base
"""


@_q("qa49_community_quality", None)
def qa49(spark, sf):
    """Per-community modularity contribution + conductance
    (operators/graph.py:community_quality) for deterministic
    1-round label-prop communities (q95's 2nd round collapses the word
    graph to one community — 1 round keeps a non-trivial partition) over the word co-occurrence graph —
    the quality report every community / canonicalization pass records
    (Newman 2006).  Two single divisions with integer numerators kept
    ≤ ~2.5e15 (the naive 4m²·1e6 form overflows bigint on 10^5-edge
    graphs); the scalar m rides as a broadcast one-row cross join, not
    a collect.  Oracle inlines the 1-round LPA CTEs from q95's oracle."""
    from .operators.graph import (
        community_quality,
        label_propagation,
        word_cooccur_edges,
    )

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    labels = label_propagation(e, "src", "dst", rounds=1)
    return community_quality(e, labels, "src", "dst")


ORACLES["qa49_community_quality"] = _QA49_ORACLE


@_q(
    "qa50_int8_quant",
    """
    WITH positions AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings),
    elems AS (
      SELECT vec_id, i - 1 AS dim,
             CAST(round(v[i] * 1e6) AS BIGINT) AS xm
      FROM positions),
    rng AS (SELECT dim, min(xm) AS mn, max(xm) AS mx FROM elems GROUP BY 1),
    quant AS (
      SELECT e.dim, e.xm, r.mn, r.mx,
             CAST(round((e.xm - r.mn) * 255 / greatest(r.mx - r.mn, 1))
                  AS BIGINT) AS q
      FROM elems e JOIN rng r USING (dim)),
    err AS (
      SELECT dim, mn, mx,
             abs(xm - (mn + CAST(round(q * greatest(mx - mn, 1) / 255)
                                 AS BIGINT))) AS err
      FROM quant)
    SELECT CAST(dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(mn) AS BIGINT) AS min_micro,
           CAST(max(mx) AS BIGINT) AS max_micro,
           CAST(sum(err) AS BIGINT) AS sum_abs_err_micro,
           CAST(max(err) AS BIGINT) AS max_abs_err_micro,
           CAST(round(sum(err) / count(*)) AS BIGINT) AS mean_abs_err_micro
    FROM err GROUP BY 1
    """,
)
def qa50(spark, sf):
    """Per-dimension int8 scalar-quantization feasibility report
    (operators/similarity.py:scalar_quant_report): global per-dim
    min/max codebook, quantize/reconstruct in integer micro space,
    aggregate |reconstruction error| — the check before shrinking a
    100 TB float embedding store 4×.  One posexplode, one 64-group agg,
    broadcast join back; quantize and reconstruct are single divisions
    with integer numerators, bit-identical in any engine."""
    from .operators.similarity import scalar_quant_report

    e = _t(spark, sf, "embeddings")
    return scalar_quant_report(e, "vec_id", "embedding", levels=255)


@_q(
    "qa51_equidepth_bins",
    """
    WITH base AS (
      SELECT event_type AS g, CAST(round(value * 1e6) AS BIGINT) AS vm,
             event_id AS id
      FROM events),
    binned AS (
      SELECT g, vm,
             ntile(10) OVER (PARTITION BY g ORDER BY vm, id) AS bin
      FROM base)
    SELECT g AS event_type, CAST(bin AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(vm) AS BIGINT) AS v_min_micro,
           CAST(max(vm) AS BIGINT) AS v_max_micro,
           CAST(round(sum(vm) / count(*)) AS BIGINT) AS avg_micro
    FROM binned GROUP BY 1, 2
    """,
)
def qa51(spark, sf):
    """Per-type equi-depth (decile) histogram of event values
    (operators/stats.py:equidepth_bins) — the quantile-bin table drift
    monitors (qa08 KS) and length-bucketed batch packing consume.
    Values micro-fixed-pointed BEFORE binning so every stat is integer;
    ntile over the (value, id) total order is deterministic in any
    engine.  One shuffle."""
    from .operators.stats import equidepth_bins

    e = _t(spark, sf, "events")
    return equidepth_bins(e, "event_type", "value", "event_id", n_bins=10)


ORACLES["qa52_incremental_lsh"] = f"""
    SELECT id_a, id_b FROM ({ORACLES["q26_minhash_lsh_pairs"]}) tfull
    WHERE id_a % 10 = 0 OR id_b % 10 = 0
"""


@_q("qa52_incremental_lsh", None)
def qa52(spark, sf):
    """Incremental MinHash-LSH index maintenance
    (operators/dedup.py:incremental_band_pairs): docs with doc_id%10==0
    arrive as the delta batch; only THEIR signatures are computed and
    joined against the persisted band index of the other 90% (plus the
    delta's own self-join).  Bit-identical to full-batch q26 restricted
    to new-touching pairs — the oracle composes the q26 SQL verbatim
    with that filter.  Cost scales with |delta|, not corpus size: the
    daily-ingest dedup path at 100 TB."""
    from .operators.dedup import (
        banded_index,
        incremental_band_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf, "documents")
    old = d.where(F.col("doc_id") % 10 != 0)
    new = d.where(F.col("doc_id") % 10 == 0)
    old_index = banded_index(
        minhash_signatures(old, "text", "doc_id", num_hashes=_MINHASH_N, shingle_n=2),
        "doc_id", _MINHASH_N, _MINHASH_BANDS,
    )
    new_sig = minhash_signatures(
        new, "text", "doc_id", num_hashes=_MINHASH_N, shingle_n=2
    )
    return incremental_band_pairs(
        old_index, new_sig, "doc_id", _MINHASH_N, _MINHASH_BANDS
    )


def _bpe_rounds_oracle_sql(rounds: int = 3) -> str:
    """Unrolled mirror of operators.textstats.bpe_merge_rounds: per round,
    pair counts over the doubled-delimiter vocab strings, argmax with the
    (count desc, pair asc) total order, literal '|x||y|'→'|xy|' replace
    (greedy left-to-right — see the operator docstring for why the
    doubled-boundary encoding makes plain replace exactly BPE)."""
    its = []
    prev = "s0"
    for r in range(1, rounds + 1):
        its.append(f"""
    p{r} AS (
      SELECT arr[i] AS sym_x, arr[i + 1] AS sym_y,
             CAST(sum(f) AS BIGINT) AS pair_count
      FROM (SELECT arr, f, unnest(range(1, len(arr))) AS i
            FROM (SELECT string_split(trim(s, '|'), '||') AS arr, f
                  FROM {prev}))
      GROUP BY 1, 2),
    t{r} AS (
      SELECT {r} AS round, sym_x, sym_y, pair_count FROM p{r}
      ORDER BY pair_count DESC, sym_x, sym_y LIMIT 1),
    s{r} AS (
      SELECT replace(s, '|' || t{r}.sym_x || '||' || t{r}.sym_y || '|',
                        '|' || t{r}.sym_x || t{r}.sym_y || '|') AS s, f
      FROM {prev} CROSS JOIN t{r})""")
        prev = f"s{r}"
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST(round AS INT) AS round, sym_x, sym_y, pair_count FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(trim(regexp_replace(text,'\\s+',' ','g'))),' ')) AS w
      FROM documents),
    wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks
      WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY 1),
    s0 AS (
      SELECT '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS s, f FROM wf),
    {",".join(its)}
    {unions}
    """


@_q("qa53_bpe_merges", _bpe_rounds_oracle_sql(3))
def qa53(spark, sf):
    """Iterative BPE merge training, 3 rounds
    (operators/textstats.py:bpe_merge_rounds) — the actual
    tokenizer-training loop (q77 is its single-step statistics):
    count → argmax merge rule → greedy apply → recount, vocab-distinct
    so each round is O(|vocab|·len) whatever the corpus size, each
    round's vocab pinned against the 2^r recompute trap.  The oracle
    unrolls the same three rounds as chained CTEs with the identical
    doubled-delimiter replace trick."""
    from .operators.textstats import bpe_merge_rounds

    d = _t(spark, sf, "documents")
    return bpe_merge_rounds(d, "text", "doc_id", rounds=3)


_QA54_MU0, _QA54_K, _QA54_H = 70_000_000, 5_000_000, 50_000_000


@_q(
    "qa54_cusum_online",
    f"""
    WITH counts AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT event_type, day, n,
             sum(n * 1000000 - {_QA54_MU0} - {_QA54_K}) OVER w AS pp,
             sum({_QA54_MU0} - n * 1000000 - {_QA54_K}) OVER w AS pn
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, day, n,
           CAST(pp - least(0, min(pp) OVER w2) AS BIGINT) AS s_pos_micro,
           CAST(pn - least(0, min(pn) OVER w2) AS BIGINT) AS s_neg_micro,
           (pp - least(0, min(pp) OVER w2) > {_QA54_H}) AS alarm_pos,
           (pn - least(0, min(pn) OVER w2) > {_QA54_H}) AS alarm_neg
    FROM p
    WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def qa54(spark, sf):
    """Online two-sided Page CUSUM vs a fixed reference rate
    (operators/temporal.py:cusum_online): the recursive S⁺ = max(0,
    S⁺+(x−μ0−k)) computed via its closed form P_t − min(0, min_j P_j) —
    one running sum + one running min per side, pure integer windows.
    The streaming twin (streaming/monitor.py:stream_cusum) folds the
    same closed form in O(1) state per entity; parity pinned in
    tests/test_streaming_monitor.py."""
    from .operators.temporal import cusum_online

    e = _t(spark, sf, "events")
    return cusum_online(
        e, "event_type", "ts",
        mu0_micro=_QA54_MU0, k_micro=_QA54_K, h_micro=_QA54_H,
    )


@_q(
    "qa55_compaction_plan",
    """
    WITH files AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) * 137 AS BIGINT) AS bytes
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, day, bytes,
             CAST((sum(bytes) OVER w - bytes) // 40000 AS BIGINT) AS group_id
      FROM files
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, group_id, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS group_bytes,
           min(day) AS day_min, max(day) AS day_max
    FROM g GROUP BY 1, 2
    """,
)
def qa55(spark, sf):
    """Small-file compaction planning (operators/layout.py:
    compaction_plan): sequential bin-fill merge groups of ~target bytes
    per partition, preserving sort order so zone maps survive the
    rewrite — group = floor((cumsum − bytes)/target), pure integer
    windows, one shuffle.  Manifest synthesized from events: one 'file'
    per (event_type, day), bytes = 137·row_count."""
    from .operators.layout import compaction_plan

    e = _t(spark, sf, "events")
    files = (
        e.select(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .groupBy("event_type", "day")
        .agg((F.count("*") * 137).cast("long").alias("bytes"))
    )
    return compaction_plan(files, "event_type", "day", "bytes", 40_000)


def _qa56_oracle_sql(n_planes: int = 16, dim: int = 64) -> str:
    """Mirror of operators.similarity.jl_distortion_report: the same
    md5-derived ±1 matrix (plane_signs) generated into per-plane integer
    dot expressions over the micro vec; both d² sums integer; the final
    ratio is the identical double cast + one multiply + one divide."""
    from .operators.similarity import plane_signs

    signs = plane_signs(n_planes, dim)
    ys = ",\n             ".join(
        "CAST(0 "
        + " ".join(
            ("+" if sgn > 0 else "-") + f" mv[{i + 1}]"
            for i, sgn in enumerate(signs[p])
        )
        + f" AS BIGINT) AS y{p}"
        for p in range(n_planes)
    )
    d2_orig = " + ".join(
        f"(a.mv[{i + 1}] - b.mv[{i + 1}]) * (a.mv[{i + 1}] - b.mv[{i + 1}])"
        for i in range(dim)
    )
    d2_proj = " + ".join(
        f"(a.y{p} - b.y{p}) * (a.y{p} - b.y{p})" for p in range(n_planes)
    )
    return f"""
    WITH vecs AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * 1e6) AS BIGINT)) AS mv
      FROM embeddings),
    proj AS (
      SELECT vec_id, mv,
             {ys}
      FROM vecs),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST({d2_orig} AS BIGINT) AS d2_orig,
             CAST({d2_proj} AS BIGINT) AS d2_proj
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1)
    SELECT id_a, id_b, d2_orig, d2_proj,
           CAST(round(CAST(d2_proj AS DOUBLE) * 1e6
                      / CAST({n_planes} * greatest(d2_orig, 1) AS DOUBLE))
                AS BIGINT) AS ratio_micro
    FROM pairs
    """


@_q("qa56_jl_distortion", _qa56_oracle_sql())
def qa56(spark, sf):
    """Johnson–Lindenstrauss ±1 projection distortion audit
    (operators/similarity.py:jl_distortion_report) over consecutive-id
    embedding pairs: d²_proj/(k·d²_orig) should concentrate around 1 —
    the ship/no-ship check for projection-compressing an embedding
    store.  Integer micro dots via ONE nested sign-matrix literal
    (q30's anti-Literal-explosion fix); oracle generates the same
    matrix into per-plane SQL dot expressions."""
    from .operators.similarity import jl_distortion_report

    e = _t(spark, sf, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return jl_distortion_report(pairs, n_planes=16, dim=64)


@_q(
    "qa57_locf_gapfill",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_obs
      FROM events GROUP BY 1, 2),
    spine AS (
      SELECT user_id,
             unnest(generate_series(min(d), max(d), INTERVAL 1 DAY))::DATE AS d
      FROM daily GROUP BY user_id),
    f AS (
      SELECT s.user_id, s.d, daily.n_obs,
             last_value(daily.n_obs IGNORE NULLS) OVER w AS filled,
             last_value(CASE WHEN daily.n_obs IS NOT NULL THEN s.d END
                        IGNORE NULLS) OVER w AS last_d
      FROM spine s LEFT JOIN daily
        ON daily.user_id = s.user_id AND daily.d = s.d
      WINDOW w AS (PARTITION BY s.user_id ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day, n_obs,
           CAST(filled AS BIGINT) AS filled,
           CAST(date_diff('day', last_d, d) AS BIGINT) AS staleness_days
    FROM f
    """,
)
def qa57(spark, sf):
    """Daily LOCF gap-fill per user (operators/temporal.py:
    locf_gapfill): dense day spine generated in-plan via sequence +
    explode (no calendar-table join), last-observation-carried-forward
    + staleness via one IGNORE-NULLS window over the groupBy's own
    partitioning — a single shuffle.  The backfill step that feeds
    dense daily feature tables downstream."""
    from .operators.temporal import locf_gapfill

    return locf_gapfill(_t(spark, sf, "events"), "user_id")


@_q(
    "qa58_funnel_steps",
    """
    WITH b AS (SELECT user_id AS u, event_type AS t, ts FROM events),
    r1 AS (SELECT u, min(ts) AS t1 FROM b WHERE t = 'view' GROUP BY u),
    r2 AS (SELECT b.u, min(b.ts) AS t2 FROM b JOIN r1 ON r1.u = b.u
           WHERE b.t = 'click' AND b.ts > r1.t1 GROUP BY b.u),
    r3 AS (SELECT b.u, min(b.ts) AS t3 FROM b JOIN r2 ON r2.u = b.u
           WHERE b.t = 'purchase' AND b.ts > r2.t2 GROUP BY b.u),
    s AS (
      SELECT 1 AS stage, 'view' AS step_name,
             CAST(count(*) AS BIGINT) AS n_users FROM r1
      UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM r2
      UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM r3),
    s2 AS (SELECT * FROM s WHERE n_users > 0),
    tot AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_all FROM b)
    SELECT CAST(stage AS BIGINT) AS stage, step_name, n_users,
           CAST(round(n_users * 1000000 /
                      coalesce(lag(n_users) OVER (ORDER BY stage),
                               (SELECT n_all FROM tot))) AS BIGINT)
             AS conv_from_prev_micro
    FROM s2
    """,
)
def qa58(spark, sf):
    """Ordered funnel view → click → purchase (operators/temporal.py:
    funnel_stages): stage k's reach time is the FIRST qualifying event
    strictly after stage k−1's, one per-user min-agg + user-keyed
    equi-join per step, all stages counted in ONE lazy plan (union →
    single aggregate, no driver-side per-step counts); conversion is
    one integer micro-division vs the previous stage."""
    from .operators.temporal import funnel_stages

    return funnel_stages(
        _t(spark, sf, "events"), "user_id", "event_type", "ts",
        ["view", "click", "purchase"],
    )


@_q(
    "qa59_cohort_retention",
    """
    WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
                 FROM events),
    f AS (SELECT u, min(d) AS c FROM act GROUP BY u),
    tri AS (
      SELECT c, date_diff('day', c, d) AS offset_days,
             CAST(count(DISTINCT act.u) AS BIGINT) AS n_active
      FROM act JOIN f ON f.u = act.u GROUP BY 1, 2),
    s AS (
      SELECT *, max(CASE WHEN offset_days = 0 THEN n_active END)
                  OVER (PARTITION BY c) AS cohort_n
      FROM tri)
    SELECT strftime(c, '%Y-%m-%d') AS cohort_day,
           CAST(offset_days AS BIGINT) AS offset_days, n_active,
           CAST(cohort_n AS BIGINT) AS cohort_n,
           CAST(round(n_active * 1000000 / cohort_n) AS BIGINT)
             AS retention_micro
    FROM s
    """,
)
def qa59(spark, sf):
    """Cohort retention triangle (operators/temporal.py:
    cohort_retention): users cohorted by first-activity day, distinct
    actives per (cohort, day-offset), retention as one integer
    micro-division vs the cohort's own offset-0 size (window max over
    the same cohort partitioning — no second join)."""
    from .operators.temporal import cohort_retention

    return cohort_retention(_t(spark, sf, "events"), "user_id")


@_q(
    "qa60_spearman_rankcorr",
    r"""
    WITH d AS (
      SELECT source, n_chars AS x,
             CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS y,
             doc_id
      FROM documents),
    r AS (
      SELECT source,
             row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
               AS rx,
             row_number() OVER (PARTITION BY source ORDER BY y, doc_id)
               AS ry
      FROM d),
    a AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      FROM r GROUP BY source)
    SELECT source, n, sum_d2,
           CASE WHEN n >= 2 THEN
             CAST(round(1000000 - CAST(sum_d2 AS DOUBLE) * 6.0 * 1000000
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)))
                  AS BIGINT)
           END AS rho_micro
    FROM a
    """,
)
def qa60(spark, sf):
    """Per-source Spearman rank correlation between doc length and
    BPE-ish token count (operators/stats.py:spearman_rho) — the
    monotone-association monitor (does length still track tokens per
    source, or did a scraper start emitting binary junk?).  Ranks are
    row_number under TOTAL orders, so the no-ties closed form
    1 − 6Σd²/(n(n²−1)) is exact; Σd² bigint, terminal rho a fixed
    double DAG identical in both engines."""
    from .operators.stats import spearman_rho

    d = _t(spark, sf, "documents")
    return spearman_rho(
        d.select(
            "source", "n_chars", token_count_col(F.col("text")).alias("_y"),
            "doc_id",
        ),
        "source", "n_chars", "_y", "doc_id",
    )


_QA61_ORACLE = """
    WITH ratings AS (
      SELECT d.doc_id AS i, rr.r,
             CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                               || ':' || rr.r), 1, 8)
                        AS BIGINT) % 5 = 0
                  THEN CASE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                                   || ';' || rr.r), 1, 8)
                            AS BIGINT) % 3
                       WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END
                  ELSE d.lang END AS c
      FROM documents d CROSS JOIN (VALUES (1), (2), (3)) rr(r)),
    cell AS (SELECT i, c, CAST(count(*) AS BIGINT) AS n
             FROM ratings GROUP BY 1, 2),
    pc AS (SELECT c, CAST(sum(n) AS BIGINT) AS t,
                  CAST(sum(n * n) AS BIGINT) AS s
           FROM cell GROUP BY c),
    tot AS (SELECT CAST(sum(s) AS BIGINT) AS s, CAST(sum(t) AS BIGINT) AS nn,
                   CAST(sum(t * t) AS BIGINT) AS t2
            FROM pc),
    ni AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items FROM cell),
    k AS (
      SELECT n_items, CAST(nn / n_items AS BIGINT) AS n_raters,
             CAST(s - nn AS DOUBLE)
               / CAST(nn * (CAST(nn / n_items AS BIGINT) - 1) AS DOUBLE)
               AS p_bar,
             CAST(t2 AS DOUBLE) / CAST(nn * nn AS DOUBLE) AS p_e
      FROM tot CROSS JOIN ni)
    SELECT n_items, n_raters,
           CAST(round(p_bar * 1000000) AS BIGINT) AS p_bar_micro,
           CAST(round(p_e * 1000000) AS BIGINT) AS p_e_micro,
           CAST(round((p_bar - p_e) * 1000000 / (1.0 - p_e)) AS BIGINT)
             AS kappa_micro
    FROM k
"""


@_q("qa61_fleiss_kappa", _QA61_ORACLE)
def qa61(spark, sf):
    """Fleiss' kappa over a 3-rater label table (operators/stats.py:
    fleiss_kappa) — multi-rater extension of qa12's Cohen kappa, the
    agreement gate before trusting an ensemble labeling pass.  Raters
    are deterministic md5-noised copies of the doc's lang (1-in-5
    disagreement, md5-picked replacement) so both engines synthesize
    the identical panel; S, marginals, N all exact bigint; P̄, P̄e, κ a
    fixed double DAG micro-rounded at the end."""
    from .operators.stats import fleiss_kappa

    d = _t(spark, sf, "documents")
    ratings = d.select(
        F.col("doc_id"), "lang",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("r"),
    )
    h1 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("r"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    h2 = F.conv(
        F.substring(
            F.md5(F.concat_ws(";", F.col("doc_id").cast("string"), F.col("r"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    labeled = ratings.select(
        F.col("doc_id").alias("i"),
        F.when(
            h1 % 5 == 0,
            F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                         (h2 % 3 + 1).cast("int")),
        )
        .otherwise(F.col("lang"))
        .alias("c"),
    )
    return fleiss_kappa(labeled, "i", "c")


@_q(
    "qa62_k_anonymity",
    """
    WITH cls AS (
      SELECT source, CAST(floor(n_chars / 100) AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT lang) AS BIGINT) AS l
      FROM documents GROUP BY 1, 2),
    e AS (SELECT n, l, k FROM cls CROSS JOIN (VALUES (2), (5), (10)) t(k)),
    a AS (
      SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below,
             CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
               AS rows_below,
             CAST(min(n) AS BIGINT) AS min_class_size,
             CAST(min(l) AS BIGINT) AS min_l_diversity
      FROM e GROUP BY k)
    SELECT k, n_classes, n_rows, classes_below, rows_below,
           CAST(round(rows_below * 1000000 / n_rows) AS BIGINT) AS risk_micro,
           min_class_size, min_l_diversity
    FROM a
    """,
)
def qa62(spark, sf):
    """k-anonymity / l-diversity audit (operators/privacy.py:
    k_anonymity_report): documents quasi-identified by (source,
    length-bucket), sensitive attribute = lang.  One shuffle builds the
    equivalence-class table; each k threshold is a conditional agg over
    it (thresholds exploded in-plan).  The release gate a corpus passes
    before any user-level slice leaves the pipeline."""
    from .operators.privacy import k_anonymity_report

    d = _t(spark, sf, "documents")
    return k_anonymity_report(
        d,
        ["source", F.floor(F.col("n_chars") / 100).cast("long")],
        "lang",
        (2, 5, 10),
    )


_QA63_PREDS = [(0, 99), (1000, 1099), (5000, 5999)]


def _qa63_oracle() -> str:
    preds = ", ".join(f"({i}, {lo}, {hi})" for i, (lo, hi) in enumerate(_QA63_PREDS))
    layout = """
      SELECT '{name}' AS layout, p.pid, p.lo, p.hi,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN z.hi_ >= p.lo AND z.lo_ <= p.hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
             CAST(sum(CASE WHEN z.hi_ >= p.lo AND z.lo_ <= p.hi
                           THEN z.r ELSE 0 END) AS BIGINT) AS rows_scanned
      FROM (
        SELECT f, min(v) AS lo_, max(v) AS hi_, CAST(count(*) AS BIGINT) AS r
        FROM (SELECT user_id AS v,
                     ntile(64) OVER (ORDER BY {key}, event_id) AS f
              FROM events)
        GROUP BY f) z
      CROSS JOIN (VALUES {preds}) p(pid, lo, hi)
      GROUP BY 1, 2, 3, 4
    """
    parts = [
        layout.format(name="by_user", key="user_id", preds=preds),
        layout.format(name="by_time", key="ts", preds=preds),
    ]
    return f"""
    WITH u AS ({' UNION ALL '.join(parts)})
    SELECT layout, CAST(pid AS BIGINT) AS pred_id,
           CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
           n_files, files_scanned, rows_scanned,
           CAST(round((n_files - files_scanned) * 1000000 / n_files)
                AS BIGINT) AS pruned_micro
    FROM u
    """


@_q("qa63_zonemap_pruning", _qa63_oracle())
def qa63(spark, sf):
    """Zone-map pruning effectiveness audit (operators/layout.py:
    zone_map_effectiveness): simulate cutting events into 64 contiguous
    files under two write layouts (sorted by user_id vs sorted by time)
    and count which files a user_id range predicate must read given
    min/max footers.  The layout-decision tool you run on a sample
    before rewriting 100 TB — by_user should prune nearly everything,
    by_time nearly nothing."""
    from .operators.layout import zone_map_effectiveness

    e = _t(spark, sf, "events")
    a = zone_map_effectiveness(
        e, F.col("user_id"), F.col("event_id"), F.col("user_id"),
        64, _QA63_PREDS, "by_user",
    )
    b = zone_map_effectiveness(
        e, F.col("ts"), F.col("event_id"), F.col("user_id"),
        64, _QA63_PREDS, "by_time",
    )
    return a.unionByName(b)


@_q(
    "qa64_seasonality",
    """
    WITH daily AS (
      SELECT event_type AS t, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    dw AS (
      SELECT t, CAST(dayofweek(d) AS BIGINT) AS w,
             CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(y) AS BIGINT) AS sw,
             CAST(sum(y * y) AS BIGINT) AS qw
      FROM daily GROUP BY 1, 2),
    r AS (
      SELECT *,
             CAST(round(CAST(sw AS DOUBLE) * sw / nw * 1000000) AS BIGINT)
               AS term,
             row_number() OVER (PARTITION BY t
                                ORDER BY CAST(sw AS DOUBLE) / nw DESC, w ASC)
               AS rk
      FROM dw),
    a AS (
      SELECT t, CAST(sum(nw) AS BIGINT) AS n_days,
             CAST(sum(sw) AS BIGINT) AS s, CAST(sum(qw) AS BIGINT) AS q,
             CAST(sum(term) AS BIGINT) AS ssb,
             CAST(max(CASE WHEN rk = 1 THEN w END) AS BIGINT) AS peak_dow,
             CAST(max(CASE WHEN rk = 1
                           THEN CAST(round(sw * 1000000 / nw) AS BIGINT) END)
                  AS BIGINT) AS peak_mean_micro
      FROM r GROUP BY t),
    g AS (
      SELECT *, CAST(s AS DOUBLE) * s / n_days * 1000000 AS gt FROM a)
    SELECT t AS event_type, n_days,
           CAST(round(s * 1000000 / n_days) AS BIGINT) AS mean_daily_micro,
           CASE WHEN CAST(q AS DOUBLE) * 1000000 - gt > 0 THEN
             CAST(round((CAST(ssb AS DOUBLE) - gt) * 1000000
                        / (CAST(q AS DOUBLE) * 1000000 - gt)) AS BIGINT)
           END AS r2_dow_micro,
           peak_dow, peak_mean_micro
    FROM g
    """,
)
def qa64(spark, sf):
    """Day-of-week seasonality strength per event type (operators/
    temporal.py:seasonal_strength): one-way-ANOVA R² of the weekday-
    mean model over daily counts, peak weekday included — decides
    whether freshness/volume alerts need weekday baselines.  Per-dow
    s²/n terms micro-rounded THEN integer-summed (≤7 terms, never an
    order-dependent double sum); final R² one fixed double DAG."""
    from .operators.temporal import seasonal_strength

    return seasonal_strength(_t(spark, sf, "events"), "event_type")


@_q(
    "qa65_roc_auc",
    """
    WITH h AS (
      SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c1
      FROM documents GROUP BY 1, 2),
    r AS (
      SELECT g, c, c1,
             2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) + c + 1 AS mr2
      FROM h),
    a AS (
      SELECT g, CAST(sum(c1) AS BIGINT) AS n_pos,
             CAST(sum(c - c1) AS BIGINT) AS n_neg,
             CAST(sum(c1 * mr2) AS BIGINT) AS r12
      FROM r GROUP BY g)
    SELECT g AS source, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(r12 - n_pos * (n_pos + 1) AS BIGINT) END AS u2,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(round((r12 - n_pos * (n_pos + 1)) * 1000000
                                / (n_pos * n_neg * 2)) AS BIGINT)
           END AS auc_micro,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(round((r12 - n_pos * (n_pos + 1)) * 1000000
                                / (n_pos * n_neg * 2)) AS BIGINT) * 2
                     - 1000000
           END AS gini_micro
    FROM a
    """,
)
def qa65(spark, sf):
    """Per-source ROC-AUC of doc length as an is-English classifier
    (operators/evaluate.py:roc_auc) — the rank-quality gate for any
    score that filters a corpus.  Mann-Whitney identity on the score
    HISTOGRAM with doubled midranks (qa22's trick), so ties are exact
    and everything before one terminal division is bigint."""
    from .operators.evaluate import roc_auc

    d = _t(spark, sf, "documents")
    return roc_auc(d, "source", "n_chars", F.col("lang") == F.lit("en"))


@_q(
    "qa66_dp_counts",
    """
    WITH c AS (SELECT event_type AS g, CAST(count(*) AS BIGINT) AS true_n
               FROM events GROUP BY 1),
    n AS (
      SELECT g, true_n,
             CAST('0x' || substr(md5('r3:' || g), 1, 12) AS BIGINT) AS h
      FROM c),
    m AS (
      SELECT g, true_n, h,
             281474976710656 - abs(h * 2 + 1 - 281474976710656) AS m
      FROM n),
    x AS (
      SELECT g, true_n,
             CAST(round(-(CASE WHEN h * 2 + 1 > 281474976710656
                               THEN 1.0 ELSE -1.0 END)
                        * (1.0 * 1000000 / 500000.0)
                        * ln(CAST(m AS DOUBLE) / 281474976710656)
                        * 1000000) AS BIGINT) AS noise_micro
      FROM m)
    SELECT g AS event_type, true_n, noise_micro,
           CAST(true_n * 1000000 + noise_micro AS BIGINT) AS noisy_micro,
           CAST(abs(noise_micro) AS BIGINT) AS abs_err_micro
    FROM x
    """,
)
def qa66(spark, sf):
    """Seeded ε-DP Laplace release counts per event type (operators/
    privacy.py:dp_noisy_counts, ε=0.5): the uniform is an exact dyadic
    rational from 48 md5 bits, the inverse-CDF ln argument is an
    integer over 2^48 (power-of-two division — exact), so both engines
    draw the identical deviate; one micro-rounded ln per group."""
    from .operators.privacy import dp_noisy_counts

    return dp_noisy_counts(
        _t(spark, sf, "events"), "event_type", 500_000, seed="r3"
    )


@_q(
    "qa67_kaplan_meier",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s2 AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l
             FROM s2 GROUP BY 1, 2),
    gm AS (SELECT max(ts) AS g FROM events),
    subj AS (
      SELECT epoch_us(l) - epoch_us(f) AS t,
             (epoch_us(g) - epoch_us(l)) > 1800000000 AS e
      FROM sess CROSS JOIN gm),
    per_t AS (
      SELECT t, CAST(count(*) AS BIGINT) AS a,
             CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM subj GROUP BY t),
    st AS (
      SELECT *,
             CAST(sum(a) OVER () AS BIGINT)
               - CAST(coalesce(sum(a) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n
      FROM per_t),
    tm AS (
      SELECT *,
             CASE WHEN d > 0 AND d < n
                  THEN CAST(round(ln(CAST(n - d AS DOUBLE)) * 1000000)
                            AS BIGINT)
                       - CAST(round(ln(CAST(n AS DOUBLE)) * 1000000)
                              AS BIGINT)
                  ELSE 0 END AS term
      FROM st),
    cm AS (
      SELECT *,
             CAST(sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS lns,
             max(CASE WHEN d = n THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead
      FROM tm)
    SELECT t AS duration, d AS n_events,
           CAST(a - d AS BIGINT) AS n_censored_here, n AS n_at_risk,
           CASE WHEN dead = 1 THEN NULL ELSE lns END AS ln_s_micro,
           CASE WHEN dead = 1 THEN 0
                ELSE CAST(round(exp(CAST(lns AS DOUBLE) / 1000000) * 1000000)
                          AS BIGINT) END AS survival_micro
    FROM cm WHERE d > 0
    """,
)
def qa67(spark, sf):
    """Kaplan-Meier survival of session lifetimes (operators/stats.py:
    kaplan_meier): sessions cut at gap>30min (q24 semantics, total
    order (ts, event_id)), duration in epoch-micros, sessions whose
    last event is within 30 min of the corpus end are CENSORED (still
    open — they leave the risk set without counting as deaths).
    Product-limit in log space: per-event-time ln factors micro-rounded
    then integer-cumsummed; one exp per output row."""
    from .operators.stats import kaplan_meier

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0).alias(
            "new_s"
        ),
        "event_id",
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.select(
            "user_id", "ts", F.sum("new_s").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    )
    gm = e.agg(F.max("ts").alias("g"))
    subj = sess.crossJoin(F.broadcast(gm)).select(
        (
            F.unix_micros(F.col("l").cast("timestamp"))
            - F.unix_micros(F.col("f").cast("timestamp"))
        ).alias("t"),
        (
            F.unix_micros(F.col("g").cast("timestamp"))
            - F.unix_micros(F.col("l").cast("timestamp"))
            > 1_800_000_000
        ).alias("e"),
    )
    return kaplan_meier(subj, "t", "e")


_QA68_SPEC = [
    ("region", "r_regionkey", ["r_name"], 4),
    ("nation", "n_regionkey", ["n_name"], 8),
    ("customer", "c_nationkey", ["c_name", "c_mktsegment"], 20),
    ("orders", "o_custkey", ["o_orderstatus", "o_orderpriority"], 32),
    ("lineitem", "l_orderkey", ["l_returnflag", "l_linestatus"], 68),
]


def _qa68_oracle() -> str:
    blocks = []
    for name, key, strs, fixed in _QA68_SPEC:
        octsum = " + ".join(
            ["0"] + [f"coalesce(strlen({c}), 0)" for c in strs]
        )
        blocks.append(
            f"""
      SELECT '{name}' AS table_name, b.n_rows,
             CAST(b.sb + b.n_rows * {fixed} AS BIGINT) AS est_bytes,
             h.mk AS max_key_rows,
             CAST(round(h.mk * 1000000 / b.n_rows) AS BIGINT)
               AS hot_share_micro
      FROM (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum({octsum}) AS BIGINT) AS sb FROM {name}) b
      CROSS JOIN (SELECT CAST(max(c) AS BIGINT) AS mk FROM
                  (SELECT count(*) AS c FROM {name} GROUP BY {key})) h
            """
        )
    u = " UNION ALL ".join(blocks)
    return f"""
    WITH u AS ({u})
    SELECT table_name, n_rows, est_bytes, max_key_rows, hot_share_micro,
           CASE WHEN est_bytes <= 65536 THEN 'broadcast'
                WHEN hot_share_micro >= 50000 THEN 'salted-shuffle'
                ELSE 'shuffle' END AS strategy
    FROM u
    """


@_q("qa68_join_advisor", _qa68_oracle())
def qa68(spark, sf):
    """Join-strategy advisor (operators/skew.py:join_side_stats,
    join_strategy_advisor): per join side, rows + estimated payload
    bytes (octet_length over strings + fixed type widths) + hottest-key
    share, classified into broadcast / salted-shuffle / shuffle.  The
    audit table that catches 'the dimension stopped fitting the
    broadcast budget' as a PLAN change before it becomes shuffle spill.
    Broadcast budget shrunk to 64 KiB here so small-sf data exercises
    both branches of the decision."""
    from .operators.skew import join_side_stats, join_strategy_advisor

    profiles = [
        join_side_stats(_t(spark, sf, name), name, key)
        for name, key, _strs, _fx in _QA68_SPEC
    ]
    return join_strategy_advisor(profiles, broadcast_bytes=65536)


@_q(
    "qa69_benford",
    """
    WITH obs AS (
      SELECT source AS g,
             CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS o
      FROM documents WHERE n_chars > 0 GROUP BY 1, 2),
    spine AS (
      SELECT g, dd.d FROM (SELECT DISTINCT g FROM obs)
      CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (7), (8), (9))
        dd(d)),
    pp(d, pm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
                         (4, 96910), (5, 79181), (6, 66947), (7, 57992),
                         (8, 51153), (9, 45757)),
    j AS (
      SELECT s.g, CAST(s.d AS BIGINT) AS d, coalesce(o.o, 0) AS o,
             CAST(pp.pm AS BIGINT) AS pm
      FROM spine s LEFT JOIN obs o ON o.g = s.g AND o.d = s.d
      JOIN pp ON pp.d = s.d),
    n AS (SELECT *, CAST(sum(o) OVER (PARTITION BY g) AS BIGINT) AS nn
          FROM j),
    t0 AS (
      SELECT g, d, o, CAST(nn * pm AS BIGINT) AS e,
             CAST(o * 1000000 - nn * pm AS BIGINT) AS dev
      FROM n),
    t AS (SELECT *, CAST(round(CAST(dev AS DOUBLE) * dev / e) AS BIGINT)
                 AS ct
          FROM t0)
    SELECT g AS source, d AS digit, o AS n_obs, e AS expected_micro,
           dev AS dev_micro, ct AS chi2_term_micro,
           CAST(sum(ct) OVER (PARTITION BY g) AS BIGINT)
             AS chi2_total_micro
    FROM t
    """,
)
def qa69(spark, sf):
    """Per-source Benford first-digit deviation over doc sizes
    (operators/stats.py:benford_deviation) — the synthetic/truncated-
    data smell test.  Expected probabilities are micro-int LITERALS;
    the digit spine guarantees all nine digits (χ² needs the misses);
    per-digit deviation terms micro-rounded then integer-summed into
    the group χ² (9-term window, never a double sum)."""
    from .operators.stats import benford_deviation

    return benford_deviation(_t(spark, sf, "documents"), "source", "n_chars")


@_q(
    "qa70_acf",
    """
    WITH daily AS (
      SELECT event_type AS t, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT t, y, lag(y, 1) OVER w AS l1, lag(y, 2) OVER w AS l2,
             lag(y, 3) OVER w AS l3
      FROM daily WINDOW w AS (PARTITION BY t ORDER BY d)),
    a AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(y) AS BIGINT) AS s, CAST(sum(y * y) AS BIGINT) AS q,
             CAST(sum(y * l1) AS BIGINT) AS c1, CAST(sum(l1) AS BIGINT) AS sh1,
             CAST(sum(CASE WHEN l1 IS NOT NULL THEN y END) AS BIGINT) AS st1,
             CAST(count(l1) AS BIGINT) AS n1,
             CAST(sum(y * l2) AS BIGINT) AS c2, CAST(sum(l2) AS BIGINT) AS sh2,
             CAST(sum(CASE WHEN l2 IS NOT NULL THEN y END) AS BIGINT) AS st2,
             CAST(count(l2) AS BIGINT) AS n2,
             CAST(sum(y * l3) AS BIGINT) AS c3, CAST(sum(l3) AS BIGINT) AS sh3,
             CAST(sum(CASE WHEN l3 IS NOT NULL THEN y END) AS BIGINT) AS st3,
             CAST(count(l3) AS BIGINT) AS n3
      FROM l GROUP BY t),
    yb AS (SELECT *, CAST(s AS DOUBLE) / n_days AS ybar FROM a),
    b AS (SELECT *, CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * ybar AS den
          FROM yb)
    SELECT t AS event_type, n_days,
           CASE WHEN n1 > 0 AND den > 0 THEN
             CAST(round((CAST(c1 AS DOUBLE) - ybar * (sh1 + st1)
                         + n1 * ybar * ybar) * 1000000 / den) AS BIGINT)
           END AS acf1_micro,
           CASE WHEN n2 > 0 AND den > 0 THEN
             CAST(round((CAST(c2 AS DOUBLE) - ybar * (sh2 + st2)
                         + n2 * ybar * ybar) * 1000000 / den) AS BIGINT)
           END AS acf2_micro,
           CASE WHEN n3 > 0 AND den > 0 THEN
             CAST(round((CAST(c3 AS DOUBLE) - ybar * (sh3 + st3)
                         + n3 * ybar * ybar) * 1000000 / den) AS BIGINT)
           END AS acf3_micro
    FROM b
    """,
)
def qa70(spark, sf):
    """Lag-1..3 autocorrelation of daily counts per event type
    (operators/temporal.py:acf_daily) — the serial-correlation probe
    pairing qa64's seasonal R² and qa47/qa54's CUSUM (momentum vs
    rhythm vs level shifts).  One window pass makes all lags; all sums
    exact bigint; each ACF one fixed double DAG."""
    from .operators.temporal import acf_daily

    return acf_daily(_t(spark, sf, "events"), "event_type")


@_q(
    "qa71_neyman",
    """
    WITH a AS (
      SELECT source AS h, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS q
      FROM documents GROUP BY 1),
    v AS (
      SELECT *, CASE WHEN n_rows > 1
                     THEN (CAST(q AS DOUBLE)
                           - CAST(s AS DOUBLE) * s / n_rows) / (n_rows - 1)
                     ELSE 0.0 END AS var
      FROM a),
    st AS (
      SELECT h, n_rows, CAST(round(var * 1000000) AS BIGINT) AS var_micro,
             CAST(round(n_rows * sqrt(var) * 1000000) AS BIGINT)
               AS weight_micro
      FROM v),
    w AS (SELECT *, CAST(sum(weight_micro) OVER () AS BIGINT) AS wt FROM st)
    SELECT h AS source, n_rows, var_micro, weight_micro,
           CASE WHEN wt > 0
                THEN CAST(round(10000 * CAST(weight_micro AS DOUBLE) / wt)
                          AS BIGINT)
                ELSE 0 END AS alloc_n
    FROM w
    """,
)
def qa71(spark, sf):
    """Neyman-optimal stratified sampling allocation over sources
    (operators/split.py:neyman_allocation, budget 10k): n_h ∝ N_h·S_h
    from exact bigint sums; sqrt is IEEE-correctly-rounded so the
    per-stratum weight is engine-exact; weights integer-summed across
    strata.  The principled upgrade to q65's fixed-fraction strata."""
    from .operators.split import neyman_allocation

    return neyman_allocation(
        _t(spark, sf, "documents"), "source", "n_chars", 10_000
    )


@_q(
    "qa72_context_truncation",
    f"""
    WITH {_TRANSCRIPT_CTE},
    b AS (
      SELECT conv_id, ts, event_id,
             CAST(16 + event_id % 48 AS BIGINT) AS tok
      FROM t),
    k AS (
      SELECT conv_id,
             CASE WHEN sum(tok) OVER (PARTITION BY conv_id
                                      ORDER BY ts DESC, event_id DESC
                                      ROWS UNBOUNDED PRECEDING) <= 512
                  THEN 1 ELSE 0 END AS kept
      FROM b),
    pc AS (
      SELECT conv_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(kept) AS BIGINT) AS kept
      FROM k GROUP BY 1),
    a AS (
      SELECT CAST(strlen(CAST(n AS VARCHAR)) - 1 AS BIGINT) AS len_bucket,
             CAST(count(*) AS BIGINT) AS n_convs,
             CAST(sum(n) AS BIGINT) AS n_turns,
             CAST(sum(kept) AS BIGINT) AS kept_turns,
             CAST(sum(n - kept) AS BIGINT) AS dropped_turns,
             CAST(sum(CASE WHEN kept < n THEN 1 ELSE 0 END) AS BIGINT)
               AS convs_truncated
      FROM pc GROUP BY 1)
    SELECT len_bucket, n_convs, n_turns, kept_turns, dropped_turns,
           CAST(round(dropped_turns * 1000000 / n_turns) AS BIGINT)
             AS drop_rate_micro,
           convs_truncated
    FROM a
    """,
)
def qa72(spark, sf):
    """Context-window truncation audit over transcripts (operators/
    dialogue.py:context_truncation_audit, budget 512 tokens,
    most-recent-first — qa15's assembly convention): how much history
    survives, bucketed by conversation length decade.  Per-turn token
    cost is the deterministic 16 + event_id%48 proxy both engines
    synthesize identically; decade bucket via decimal-digit count
    (floor(log10) risks an ulp at exact powers of ten)."""
    from .operators.dialogue import context_truncation_audit

    t = _transcript_view(spark, sf)
    return context_truncation_audit(
        t,
        "conv_id",
        ["ts", "event_id"],
        (F.lit(16) + F.col("event_id") % 48).cast("long"),
        512,
    )


def _qa73_oracle(k: int = 8, iters: int = 3) -> str:
    body = _kmeans_ctes(k, iters)
    return f"""
    WITH {body},
    d4 AS (
      SELECT dims.vec_id, c.cl,
             CAST(sum((dims.val - c.val) * (dims.val - c.val)) AS BIGINT)
               AS dist
      FROM dims JOIN c{iters} c USING (pos)
      GROUP BY 1, 2),
    r4 AS (
      SELECT vec_id, cl, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
      FROM d4),
    ab AS (
      SELECT a.vec_id, a.cl AS cluster, a.dist AS a_dist, b.dist AS b_dist
      FROM (SELECT * FROM r4 WHERE rn = 1) a
      JOIN (SELECT * FROM r4 WHERE rn = 2) b USING (vec_id)),
    sm AS (
      SELECT cluster,
             CASE WHEN greatest(a_dist, b_dist) > 0
                  THEN CAST(round(CAST(b_dist - a_dist AS DOUBLE) * 1000000
                                  / greatest(a_dist, b_dist)) AS BIGINT)
                  ELSE 0 END AS s
      FROM ab),
    ag AS (
      SELECT CAST(cluster AS BIGINT) AS cluster,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(s) AS BIGINT) AS ss,
             CAST(min(s) AS BIGINT) AS min_s_micro,
             CAST(max(s) AS BIGINT) AS max_s_micro
      FROM sm GROUP BY 1)
    SELECT cluster, n_members,
           CAST(round(CAST(ss AS DOUBLE) / n_members) AS BIGINT)
             AS mean_s_micro,
           min_s_micro, max_s_micro
    FROM ag
    """


@_q("qa73_silhouette", _qa73_oracle())
def qa73(spark, sf):
    """Centroid-silhouette quality of the qa02 k-means partition
    (operators/clustering.py:centroid_silhouette, k=8, 3 iterations):
    the O(N·k) silhouette you can afford at corpus scale — distance to
    own vs nearest-other FINAL centroid, one extra map-only pass over
    the same integer-micro Lloyd chain (oracle shares the unrolled-CTE
    builder with qa02).  s=(b−a)/max(a,b) one integer division/row."""
    from .operators.clustering import centroid_silhouette

    return centroid_silhouette(
        _t(spark, sf, "embeddings"), "vec_id", "embedding", k=8, iters=3
    )


@_q(
    "qa74_shuffle_balance",
    """
    WITH pk AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1),
    pp AS (
      SELECT CAST(CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 12)
                       AS BIGINT) % 64 AS BIGINT) AS partition_id,
             CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM pk GROUP BY 1),
    w AS (SELECT *, CAST(sum(n_rows) OVER () AS BIGINT) AS tot FROM pp)
    SELECT partition_id, n_rows, n_keys,
           CAST(round(n_rows * 1000000 / tot) AS BIGINT)
             AS load_share_micro,
           CAST(round(n_rows * 64 * 1000000 / tot) AS BIGINT)
             AS balance_micro
    FROM w
    """,
)
def qa74(spark, sf):
    """Shuffle-balance audit (operators/skew.py:shuffle_balance_audit):
    simulate hash-partitioning events on user_id across 64 reducers
    with a portable md5 partitioner and report per-partition load vs
    perfectly even — the numeric sizing step behind
    spark.sql.shuffle.partitions and the trigger for salting.  One
    map-side-combined key count + one 64-row agg."""
    from .operators.skew import shuffle_balance_audit

    return shuffle_balance_audit(_t(spark, sf, "events"), "user_id", 64)


@_q(
    "qa75_response_latency",
    f"""
    WITH {_TRANSCRIPT_CTE},
    g AS (
      SELECT lag(role) OVER w AS prev_role, role,
             epoch_us(ts) - epoch_us(lag(ts) OVER w) AS g,
             conv_id, event_id
      FROM t
      WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
    g2 AS (SELECT * FROM g WHERE prev_role IS NOT NULL),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY prev_role, role
                                ORDER BY g, conv_id, event_id) AS rn,
             CAST(count(*) OVER (PARTITION BY prev_role, role) AS BIGINT)
               AS n
      FROM g2),
    a AS (
      SELECT prev_role, role, CAST(count(*) AS BIGINT) AS n2,
             CAST(sum(g) AS BIGINT) AS sg,
             CAST(max(CASE WHEN rn = CAST(floor((n * 50 + 99) / 100)
                                         AS BIGINT)
                           THEN g END) AS BIGINT) AS p50_us,
             CAST(max(CASE WHEN rn = CAST(floor((n * 90 + 99) / 100)
                                         AS BIGINT)
                           THEN g END) AS BIGINT) AS p90_us,
             CAST(max(g) AS BIGINT) AS max_us
      FROM r GROUP BY 1, 2)
    SELECT prev_role, role, n2 AS n,
           CAST(round(CAST(sg AS DOUBLE) / n2) AS BIGINT) AS mean_us,
           p50_us, p90_us, max_us
    FROM a
    """,
)
def qa75(spark, sf):
    """Latency distribution per role transition over transcripts
    (operators/dialogue.py:response_latency): user→assistant is the
    answer-delay SLO, tool→assistant the tool round-trip.  Exact
    type-1 p50/p90 from integer epoch-micro gaps under a TOTAL rank
    order (gap, conv, event) — the value at row ceil(q·n); mean one
    terminal division over a bigint sum."""
    from .operators.dialogue import response_latency

    return response_latency(
        _transcript_view(spark, sf), "conv_id", "role", "ts", "event_id"
    )


def _qa76_oracle() -> str:
    def xlx(x: str) -> str:
        return (
            f"(CASE WHEN {x} > 0 THEN {x} * CAST(round(ln(CAST({x} AS "
            f"DOUBLE)) * 1000000) AS BIGINT) ELSE 0 END)"
        )

    ll = " + ".join([xlx("k11"), xlx("k12"), xlx("k21"), xlx("k22")])
    ll += (
        f" - {xlx('n_a')} - {xlx('(n - n_a)')}"
        f" - {xlx('n_b')} - {xlx('(n - n_b)')} + {xlx('n')}"
    )
    return f"""
    WITH pat(p) AS (VALUES
      ('hash join'),('sort merge'),('table scan'),('batch stream'),
      ('window'),('filter'),('stream'),('group'),('vector'),('spark')),
    words AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS w,
                   generate_subscripts(string_split(lower(text), ' '), 1)
                     AS idx
            FROM documents)
      WHERE w <> ''),
    cand AS (
      SELECT doc_id, w AS span FROM words
      UNION ALL
      SELECT doc_id, w || ' ' || lead_w AS span
      FROM (SELECT doc_id, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM words)
      WHERE lead_w IS NOT NULL),
    ment AS (SELECT DISTINCT doc_id, span FROM cand JOIN pat ON span = p),
    nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM ment),
    cnt AS (SELECT span, CAST(count(*) AS BIGINT) AS c FROM ment GROUP BY 1),
    pairs AS (
      SELECT a.span AS entity_a, b.span AS entity_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ment a JOIN ment b ON a.doc_id = b.doc_id AND a.span < b.span
      GROUP BY 1, 2),
    t AS (
      SELECT p.entity_a, p.entity_b, ca.c AS n_a, cb.c AS n_b, p.n_ab, nn.n
      FROM pairs p
      JOIN cnt ca ON p.entity_a = ca.span
      JOIN cnt cb ON p.entity_b = cb.span
      CROSS JOIN nn),
    k AS (
      SELECT *, n_ab AS k11, CAST(n_a - n_ab AS BIGINT) AS k12,
             CAST(n_b - n_ab AS BIGINT) AS k21,
             CAST(n - n_a - n_b + n_ab AS BIGINT) AS k22
      FROM t)
    SELECT entity_a, entity_b, n_a, n_b, n_ab, n AS n_units,
           CAST(({ll}) * 2 AS BIGINT) AS g2_micro
    FROM k
    """


@_q("qa76_llr_edges", _qa76_oracle())
def qa76(spark, sf):
    """Dunning G² log-likelihood-ratio edge significance over the same
    co-mention units as q72's PMI (pipeline/comention.py:
    llr_comention_edges) — the sparse-robust score that demands support
    AND enrichment before an edge feeds canonicalization.  Full 2×2
    table in exact bigint x·ln_micro(x) arithmetic — zero doubles
    anywhere."""
    from .pipeline.comention import llr_comention_edges
    from .pipeline.mention_detect import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    m = detect_mentions(spark, d, _DEMO_PATTERNS)
    return llr_comention_edges(m, entity_col="pattern", unit_col="conv_id")


def _qa77_oracle(k: int = 3, lam_num: int = 7, lam_den: int = 10) -> str:
    pen = lam_den - lam_num
    parts = [
        """
    dims AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS val
      FROM embeddings),
    mem AS (SELECT label AS g, vec_id AS id FROM embeddings),
    q AS (
      SELECT g, id AS qid FROM (
        SELECT g, id,
               row_number() OVER (PARTITION BY g
                                  ORDER BY md5(CAST(id AS VARCHAR)), id)
                 AS rn
        FROM mem) WHERE rn = 1),
    rel AS (
      SELECT m.g, m.id, CAST(sum(dc.val * dq.val) AS BIGINT) AS rel
      FROM mem m JOIN q ON q.g = m.g AND m.id <> q.qid
      JOIN dims dc ON dc.vec_id = m.id
      JOIN dims dq ON dq.vec_id = q.qid AND dq.pos = dc.pos
      GROUP BY 1, 2),
    p1 AS (
      SELECT g, id, rel, score FROM (
        SELECT g, id, rel, CAST({LN} * rel AS BIGINT) AS score,
               row_number() OVER (PARTITION BY g
                                  ORDER BY {LN} * rel DESC, id) AS rn
        FROM rel) WHERE rn = 1),
    pk1 AS (SELECT g, id FROM p1)""".replace("{LN}", str(lam_num))
    ]
    for r in range(2, k + 1):
        p = r - 1
        parts.append(
            f"""
    dots{r} AS (
      SELECT r.g, r.id, CAST(sum(dc.val * dp.val) AS BIGINT) AS dt
      FROM rel r JOIN pk{p} p ON p.g = r.g AND r.id <> p.id
      JOIN dims dc ON dc.vec_id = r.id
      JOIN dims dp ON dp.vec_id = p.id AND dp.pos = dc.pos
      GROUP BY r.g, r.id, p.id),
    ms{r} AS (
      SELECT m.g, m.id, rel.rel, m.ms
      FROM (SELECT g, id, CAST(max(dt) AS BIGINT) AS ms
            FROM dots{r} GROUP BY 1, 2) m
      JOIN rel ON rel.g = m.g AND rel.id = m.id
      WHERE NOT EXISTS (SELECT 1 FROM pk{p} p
                        WHERE p.g = m.g AND p.id = m.id)),
    p{r} AS (
      SELECT g, id, rel, score FROM (
        SELECT g, id, rel,
               CAST({lam_num} * rel - {pen} * ms AS BIGINT) AS score,
               row_number() OVER (PARTITION BY g
                                  ORDER BY {lam_num} * rel - {pen} * ms
                                           DESC, id) AS rn
        FROM ms{r}) WHERE rn = 1),
    pk{r} AS (SELECT g, id FROM pk{p} UNION ALL SELECT g, id FROM p{r})"""
        )
    body = ",".join(parts)
    sel = " UNION ALL ".join(
        f"SELECT g, CAST({r} AS BIGINT) AS pick_rank, id, rel, score FROM p{r}"
        for r in range(1, k + 1)
    )
    return f"""
    WITH {body}
    SELECT g AS label, pick_rank, id AS vec_id, rel, score
    FROM ({sel})
    """


@_q("qa77_mmr_rerank", _qa77_oracle())
def qa77(spark, sf):
    """Per-group Maximal-Marginal-Relevance re-ranking (operators/
    retrieval.py:mmr_rerank, k=3, λ=0.7): greedy diverse top-k for ALL
    query groups at once as relational rounds — per-group window
    argmax + candidate×picked max-sim join per round, integer micro-dot
    scores, no driver loop.  The diversity-aware final stage between
    ANN retrieval (q30/q48) and context assembly (qa15).  Oracle:
    unrolled-round CTEs (the kmeans-oracle pattern)."""
    from .operators.retrieval import mmr_rerank

    return mmr_rerank(_t(spark, sf, "embeddings"), "label", k=3)


@_q(
    "qa78_dispersion",
    """
    WITH daily AS (
      SELECT event_type AS t, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    a AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(y) AS BIGINT) AS s, CAST(sum(y * y) AS BIGINT) AS q
      FROM daily GROUP BY 1),
    m AS (
      SELECT *, CAST(s AS DOUBLE) / n_days AS mean,
             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days)
               / (n_days - 1) AS var
      FROM a)
    SELECT t AS event_type, n_days,
           CAST(round(mean * 1000000) AS BIGINT) AS mean_micro,
           CASE WHEN n_days > 1
                THEN CAST(round(var * 1000000) AS BIGINT) END AS var_micro,
           CASE WHEN n_days > 1 AND s > 0
                THEN CAST(round(var / mean * 1000000) AS BIGINT)
           END AS vmr_micro,
           CASE WHEN n_days > 1 AND s > 0
                THEN CAST(round(var / mean * 1000000) AS BIGINT) > 2000000
           END AS overdispersed
    FROM m
    """,
)
def qa78(spark, sf):
    """Index of dispersion (VMR) of daily counts per event type
    (operators/temporal.py:dispersion_daily) — the Poisson check that
    decides between √mean alert bands and negative-binomial ones.
    Completes the temporal-monitor set (qa64 rhythm, qa70 memory,
    qa47/qa54 level shifts)."""
    from .operators.temporal import dispersion_daily

    return dispersion_daily(_t(spark, sf, "events"), "event_type")


@_q(
    "qa79_weighted_median",
    """
    WITH b AS (SELECT source AS g, n_chars AS v, n_chars AS w,
                      doc_id AS tb
               FROM documents),
    s AS (
      SELECT g, v,
             sum(w) OVER (PARTITION BY g ORDER BY v, tb
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY g) AS tw,
             row_number() OVER (PARTITION BY g ORDER BY v, tb) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM b)
    SELECT g AS source, CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(tw) AS BIGINT) AS w_total,
           CAST(min(CASE WHEN cw * 2 >= tw THEN v END) AS BIGINT)
             AS p50_weighted,
           CAST(min(CASE WHEN rn * 2 >= n THEN v END) AS BIGINT)
             AS p50_plain
    FROM s GROUP BY g
    """,
)
def qa79(spark, sf):
    """Per-source size-weighted median doc length (operators/stats.py:
    weighted_median, weight = n_chars → length-biased median, "the
    median byte lives in a doc this long") vs the plain median — the
    capacity-planning number the unweighted median understates.  Exact
    integer windows under a total order; 2·cum ≥ W avoids division."""
    from .operators.stats import weighted_median

    d = _t(spark, sf, "documents")
    return weighted_median(d, "source", "n_chars", "n_chars", "doc_id")


def _qa80_oracle() -> str:
    body = _kmeans_ctes()
    return f"""
    WITH {body},
    asg AS (SELECT a.vec_id, a.cl AS c, e.label AS g
            FROM a3 a JOIN embeddings e USING (vec_id)),
    cells AS (SELECT c, g, CAST(count(*) AS BIGINT) AS n
              FROM asg GROUP BY 1, 2),
    rws AS (SELECT c, CAST(sum(n) AS BIGINT) AS rc FROM cells GROUP BY 1),
    cls AS (SELECT g, CAST(sum(n) AS BIGINT) AS gc FROM cells GROUP BY 1),
    t AS (
      SELECT cells.n,
             CAST(round(CAST(cells.n AS DOUBLE) * cells.n / rws.rc * 1000000)
                  AS BIGINT) AS tp,
             CAST(round(CAST(cells.n AS DOUBLE) * cells.n / cls.gc * 1000000)
                  AS BIGINT) AS tr,
             CAST(cells.n * (cells.n - 1) / 2 AS BIGINT) AS pairs_c
      FROM cells JOIN rws USING (c) JOIN cls USING (g)),
    b AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(tp) AS BIGINT) AS sp,
                 CAST(sum(tr) AS BIGINT) AS sr,
                 CAST(sum(pairs_c) AS BIGINT) AS apairs
          FROM t),
    rp AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
                  CAST(sum(rc * (rc - 1) / 2) AS BIGINT) AS bb
           FROM rws),
    cp AS (SELECT CAST(count(*) AS BIGINT) AS n_gold,
                  CAST(sum(gc * (gc - 1) / 2) AS BIGINT) AS cb
           FROM cls),
    o AS (SELECT * FROM b CROSS JOIN rp CROSS JOIN cp),
    f AS (
      SELECT *, CAST(sp AS DOUBLE) / n AS p, CAST(sr AS DOUBLE) / n AS r,
             CAST(bb AS DOUBLE) * cb / CAST(n * (n - 1) / 2 AS BIGINT) AS ex,
             CAST(bb + cb AS DOUBLE) / 2.0 AS mx
      FROM o)
    SELECT n, n_clusters, n_gold,
           CAST(round(p) AS BIGINT) AS b3_p_micro,
           CAST(round(r) AS BIGINT) AS b3_r_micro,
           CAST(round(2.0 * p * r / (p + r)) AS BIGINT) AS b3_f1_micro,
           CASE WHEN mx - ex <> 0
                THEN CAST(round((CAST(apairs AS DOUBLE) - ex) * 1000000
                                / (mx - ex)) AS BIGINT)
           END AS ari_micro
    FROM f
    """


@_q("qa80_cluster_agreement", _qa80_oracle())
def qa80(spark, sf):
    """External clustering quality of the qa02 k-means partition
    against the embeddings' gold label column (operators/clustering.py:
    cluster_agreement): B-cubed P/R/F1 (the entity-resolution standard)
    + pair-counting Adjusted Rand, all from ONE contingency table —
    per-cell terms micro-rounded then integer-summed, ARI binomials
    exact bigint.  The trust gate before dedup/canonical clusters feed
    downstream."""
    from .operators.clustering import cluster_agreement, kmeans_micro

    e = _t(spark, sf, "embeddings")
    asg = kmeans_micro(e, "vec_id", "embedding", k=8, iters=3).select(
        "vec_id", "cluster"
    )
    j = asg.join(e.select("vec_id", "label"), "vec_id")
    return cluster_agreement(j, "vec_id", "cluster", "label")


@_q(
    "qa81_decay_trend",
    """
    WITH daily AS (
      SELECT event_type AS t, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT t,
             CAST(date_diff('day', min(d) OVER (PARTITION BY t), d)
                  AS BIGINT) AS x,
             CAST(round(ln(CAST(y AS DOUBLE)) * 1000000) AS BIGINT) AS ly
      FROM daily),
    a AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * ly) AS BIGINT) AS sxy
      FROM st GROUP BY t),
    f AS (
      SELECT *, CAST(n_days * sxy - sx * sy AS DOUBLE) AS num,
             CAST(n_days * sxx - sx * sx AS DOUBLE) AS den
      FROM a),
    g AS (SELECT *, num / den AS slope FROM f)
    SELECT t AS event_type, n_days,
           CASE WHEN den <> 0 THEN CAST(round(slope) AS BIGINT) END
             AS slope_micro,
           CASE WHEN den <> 0
                THEN CAST(round((CAST(sy AS DOUBLE) - slope * sx) / n_days)
                          AS BIGINT)
           END AS intercept_micro,
           CASE WHEN den <> 0 AND slope < 0
                THEN CAST(round(693147000000 / -slope) AS BIGINT)
           END AS halflife_days_micro
    FROM g
    """,
)
def qa81(spark, sf):
    """Exponential growth/decay rate of daily counts per event type
    (operators/temporal.py:decay_trend): OLS slope of ln(count) on day
    offset — source half-life for corpus-freshness planning.  One
    micro-rounded ln per observed day, four exact bigint sums, slope /
    intercept / half-life one terminal double DAG (ln 2 enters as a
    micro literal)."""
    from .operators.temporal import decay_trend

    return decay_trend(_t(spark, sf, "events"), "event_type")


@_q(
    "qa82_calibration",
    """
    WITH ext AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                 FROM documents),
    b AS (
      SELECT CAST(floor((n_chars - ext.mn) * 10 / (ext.mx - ext.mn + 1))
                  AS BIGINT) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents CROSS JOIN ext),
    p AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM b GROUP BY 1),
    st AS (
      SELECT bin, n, CAST((bin * 2 + 1) * 50000 AS BIGINT) AS conf_micro,
             CAST(round(pos * 1000000 / n) AS BIGINT) AS acc_micro
      FROM p),
    g AS (SELECT *, CAST(abs(acc_micro - conf_micro) AS BIGINT)
                 AS gap_micro
          FROM st)
    SELECT bin, n, conf_micro, acc_micro, gap_micro,
           CAST(round(CAST(sum(n * gap_micro) OVER () AS BIGINT)
                      / CAST(sum(n) OVER () AS BIGINT)) AS BIGINT)
             AS ece_micro
    FROM g
    """,
)
def qa82(spark, sf):
    """Reliability diagram + Expected Calibration Error (operators/
    evaluate.py:calibration_report, 10 equi-width bins): doc length as
    a mock confidence for is-English, vs the observed rate per bin —
    the calibration complement to qa65's AUC (discrimination ≠
    calibration).  Bin edges pure integer arithmetic; ECE one terminal
    division over integer sums."""
    from .operators.evaluate import calibration_report

    d = _t(spark, sf, "documents")
    return calibration_report(
        d, "n_chars", F.col("lang") == F.lit("en"), n_bins=10
    )


@_q(
    "qa83_profile_drift",
    """
    WITH ps AS (
      SELECT CAST(doc_id % 2 AS INT) AS side, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nl_text,
             CAST(count(DISTINCT text) AS BIGINT) AS d_text,
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS nl_lang,
             CAST(count(DISTINCT lang) AS BIGINT) AS d_lang,
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nl_source,
             CAST(count(DISTINCT source) AS BIGINT) AS d_source,
             CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nl_n_chars,
             CAST(count(DISTINCT n_chars) AS BIGINT) AS d_n_chars
      FROM documents GROUP BY 1),
    r AS (
      SELECT side, n, 'text' AS col, nl_text AS nulls, d_text AS dst FROM ps
      UNION ALL SELECT side, n, 'lang', nl_lang, d_lang FROM ps
      UNION ALL SELECT side, n, 'source', nl_source, d_source FROM ps
      UNION ALL SELECT side, n, 'n_chars', nl_n_chars, d_n_chars FROM ps),
    p AS (
      SELECT col,
             CAST(max(CASE WHEN side = 0 THEN n END) AS BIGINT) AS n_0,
             CAST(max(CASE WHEN side = 1 THEN n END) AS BIGINT) AS n_1,
             CAST(max(CASE WHEN side = 0 THEN nulls END) AS BIGINT) AS nl0,
             CAST(max(CASE WHEN side = 1 THEN nulls END) AS BIGINT) AS nl1,
             CAST(max(CASE WHEN side = 0 THEN dst END) AS BIGINT)
               AS distinct_0,
             CAST(max(CASE WHEN side = 1 THEN dst END) AS BIGINT)
               AS distinct_1
      FROM r GROUP BY col)
    SELECT col, n_0, n_1,
           CAST(round(nl0 * 1000000 / n_0) AS BIGINT) AS null0_micro,
           CAST(round(nl1 * 1000000 / n_1) AS BIGINT) AS null1_micro,
           distinct_0, distinct_1,
           CASE WHEN distinct_0 > 0
                THEN CAST(round(distinct_1 * 1000000 / distinct_0)
                          AS BIGINT)
           END AS distinct_ratio_micro
    FROM p
    """,
)
def qa83(spark, sf):
    """Shard-parity column profiles (operators/stats.py:profile_drift):
    rows / null rates / distinct counts of every documents column on
    the two doc_id%2 shards, side by side — the ingest sanity check
    that catches a scraper nulling a field or collapsing a vocabulary
    in ONE pass (single groupBy(side) with all columns' aggregates; the
    2-row result pivots in-plan)."""
    from .operators.stats import profile_drift

    d = _t(spark, sf, "documents")
    return profile_drift(
        d, (F.col("doc_id") % 2), ["text", "lang", "source", "n_chars"]
    )


@_q(
    "qa84_behavior_fingerprint",
    """
    WITH seq AS (
      SELECT CAST(user_id AS VARCHAR) || '#'
               || CAST(CAST(ts AS DATE) AS VARCHAR) AS a,
             md5(string_agg(event_type, '' ORDER BY ts, event_id))
               AS fingerprint,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1)
    SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_actors,
           CAST(max(n) AS BIGINT) AS n_actions,
           min(a) AS actor_min, max(a) AS actor_max
    FROM seq GROUP BY 1 HAVING count(*) >= 2
    """,
)
def qa84(spark, sf):
    """Behavioral-duplicate (bot/replay) detection (operators/
    dialogue.py:behavior_fingerprints): (user, day) sessions whose
    exact ordered event-type trajectory repeats — the conversation-
    level dedup signal text hashing misses.  Sequence assembled with
    the qa15 array_sort(collect_list(struct)) idiom (in-group array
    sort, no global orderBy), md5-hashed; only duplicated fingerprints
    emit, as capped summaries."""
    from .operators.dialogue import behavior_fingerprints

    e = _t(spark, sf, "events").select(
        F.concat_ws(
            "#", F.col("user_id"), F.to_date("ts").cast("string")
        ).alias("actor"),
        "event_type",
        "ts",
        "event_id",
    )
    return behavior_fingerprints(
        e, "actor", "event_type", ["ts", "event_id"], min_group=2
    )


@_q(
    "qa85_novelty_curve",
    r"""
    WITH w0 AS (
      SELECT doc_id,
             DATE '2024-01-01' + CAST(doc_id % 30 AS INT) AS d,
             lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
      FROM documents),
    toks AS (
      SELECT doc_id, d, w, idx
      FROM (SELECT doc_id, d,
                   unnest(string_split(nt, ' ')) AS w,
                   generate_subscripts(string_split(nt, ' '), 1) AS idx
            FROM w0)),
    grams0 AS (
      SELECT doc_id, d, w || ' ' || lead_w AS sh
      FROM (SELECT doc_id, d, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM toks)
      WHERE lead_w IS NOT NULL),
    small AS (
      SELECT doc_id, d, nt AS sh FROM w0
      WHERE len(string_split(nt, ' ')) < 2 AND len(nt) > 0),
    base AS (
      SELECT DISTINCT d, sh
      FROM (SELECT d, sh FROM grams0 UNION ALL SELECT d, sh FROM small)),
    first AS (SELECT sh, min(d) AS born FROM base GROUP BY 1),
    per_day AS (
      SELECT base.d, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN base.d = first.born THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM base JOIN first USING (sh) GROUP BY 1)
    SELECT strftime(d, '%Y-%m-%d') AS day, n_shingles, n_new,
           CAST(round(n_new * 1000000 / n_shingles) AS BIGINT)
             AS novelty_micro,
           CAST(sum(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_new
    FROM per_day
    """,
)
def qa85(spark, sf):
    """Corpus novelty curve over a synthetic 30-day crawl calendar
    (operators/textstats.py:novelty_curve): per day, the share of the
    day's distinct bigram shingles never seen before, plus the
    cumulative vocabulary — the diminishing-returns meter that says
    when a source is mined out.  Shingles are the repo's canonical
    shingles_col (q27's proven SQL mirror, incl. the <n-word whole-text
    fallback)."""
    from .operators.textstats import novelty_curve

    d = _t(spark, sf, "documents").select(
        "text",
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("doc_id") % 30).cast("int"),
        ).alias("_ts"),
    )
    return novelty_curve(d, "text", F.col("_ts"), shingle_n=2)


_QA86_GUESS_CTE = r"""
    scored AS (
      SELECT doc_id, lang,
             len(list_filter(words, w -> list_contains(['the','and','of'], w))) AS en_hits,
             len(list_filter(words, w -> list_contains(['der','die','und'], w))) AS de_hits,
             len(list_filter(words, w -> list_contains(['le','la','et'], w))) AS fr_hits,
             len(list_filter(words, w -> list_contains(['el','los','que'], w))) AS es_hits
      FROM (SELECT doc_id, lang,
                   list_filter(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
                               w -> w <> '') AS words
            FROM documents)),
    g AS (
      SELECT lang AS a,
             CASE WHEN greatest(en_hits, de_hits, fr_hits, es_hits) = 0
                    THEN 'und'
                  WHEN es_hits >= greatest(en_hits, de_hits, fr_hits)
                    THEN 'es'
                  WHEN fr_hits >= greatest(en_hits, de_hits) THEN 'fr'
                  WHEN de_hits >= en_hits THEN 'de'
                  ELSE 'en' END AS p
      FROM scored)
"""


@_q(
    "qa86_multiclass_f1",
    f"""
    WITH {_QA86_GUESS_CTE},
    actuals AS (SELECT a AS label, CAST(count(*) AS BIGINT) AS n_actual
                FROM g GROUP BY 1),
    preds AS (SELECT p AS label, CAST(count(*) AS BIGINT) AS n_pred
              FROM g GROUP BY 1),
    tps AS (SELECT a AS label, CAST(count(*) AS BIGINT) AS tp
            FROM g WHERE a = p GROUP BY 1),
    labels AS (SELECT DISTINCT label FROM
               (SELECT label FROM actuals UNION ALL SELECT label FROM preds)),
    j AS (
      SELECT l.label, CAST(coalesce(n_actual, 0) AS BIGINT) AS n_actual,
             CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
             CAST(coalesce(tp, 0) AS BIGINT) AS tp
      FROM labels l LEFT JOIN actuals USING (label)
      LEFT JOIN preds USING (label) LEFT JOIN tps USING (label)),
    st AS (
      SELECT label, n_actual, n_pred, tp,
             CASE WHEN n_pred > 0
                  THEN CAST(round(tp * 1000000 / n_pred) AS BIGINT)
             END AS p_micro,
             CASE WHEN n_actual > 0
                  THEN CAST(round(tp * 1000000 / n_actual) AS BIGINT)
             END AS r_micro,
             CAST(round(tp * 2000000 / (n_actual + n_pred)) AS BIGINT)
               AS f1_micro
      FROM j)
    SELECT *,
           CAST(round(CAST(sum(tp) OVER () AS BIGINT) * 1000000
                      / CAST(sum(n_actual) OVER () AS BIGINT)) AS BIGINT)
             AS accuracy_micro,
           CAST(round(CAST(sum(f1_micro) OVER () AS BIGINT)
                      / count(*) OVER ()) AS BIGINT) AS macro_f1_micro
    FROM st
    """,
)
def qa86(spark, sf):
    """Multiclass P/R/F1 report of the q51 language guesser against
    declared lang (operators/evaluate.py:multiclass_report): per-class
    F1 via the single-division identity 2·TP/(n_actual+n_pred),
    accuracy and macro-F1 over the tiny label table — the confusion-
    matrix rollup that makes a heuristic classifier a monitored
    component."""
    from .operators.evaluate import multiclass_report
    from .operators.textstats import with_lang_guess

    d = with_lang_guess(_t(spark, sf, "documents"), "text")
    return multiclass_report(d, "lang", "lang_guess")


@_q(
    "qa87_cuped",
    """
    WITH ext AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                 FROM events),
    b AS (
      SELECT user_id AS u, CAST(floor(value) AS BIGINT) AS m,
             (epoch_us(ts) * 2 < ext.lo + ext.hi) AS pre
      FROM events CROSS JOIN ext),
    pu AS (
      SELECT u,
             CAST(sum(CASE WHEN pre THEN m ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN NOT pre THEN m ELSE 0 END) AS BIGINT) AS y
      FROM b GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pu),
    f AS (
      SELECT *, CAST(n_units * sxy - sx * sy AS DOUBLE) AS cov,
             CAST(n_units * sxx - sx * sx AS DOUBLE) AS varx,
             CAST(n_units * syy - sy * sy AS DOUBLE) AS vary
      FROM s)
    SELECT n_units,
           CASE WHEN varx > 0 AND vary > 0
                THEN CAST(round(cov * 1000000 / varx) AS BIGINT)
           END AS theta_micro,
           CASE WHEN varx > 0 AND vary > 0
                THEN CAST(round(cov * 1000000 / sqrt(varx * vary)) AS BIGINT)
           END AS corr_micro,
           CASE WHEN varx > 0 AND vary > 0
                THEN CAST(round(cov * cov * 1000000 / (varx * vary))
                          AS BIGINT)
           END AS var_reduction_micro
    FROM f
    """,
)
def qa87(spark, sf):
    """CUPED variance-reduction audit over user activity (operators/
    evaluate.py:cuped_adjustment): per-user pre/post metric sums split
    at the time-range midpoint, θ = cov/var(pre), corr, and the
    achievable variance reduction corr² — decides whether CUPED is
    worth the plumbing before an experiment ships.  Metric floored to
    integer units (floor is engine-exact where round on doubles is
    not); five bigint sums, one terminal double DAG."""
    from .operators.evaluate import cuped_adjustment

    return cuped_adjustment(_t(spark, sf, "events"), "user_id", "value")


@_q(
    "qa88_bootstrap_ci",
    """
    WITH reps AS (SELECT CAST(range AS INT) AS r FROM range(40)),
    base AS (SELECT source AS g, n_chars AS x, doc_id AS id
             FROM documents),
    rr AS (
      SELECT g, x, r,
             CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                                     || CAST(r AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM base CROSS JOIN reps),
    wts AS (
      SELECT g, r, x,
             CAST(CASE WHEN h < 103548857136060 THEN 0
                       WHEN h < 207097714272121 THEN 1
                       WHEN h < 258872142840152 THEN 2
                       WHEN h < 276130285696162 THEN 3
                       WHEN h < 280444821410164 THEN 4
                       ELSE 5 END AS BIGINT) AS w
      FROM rr),
    per_rep AS (
      SELECT g, r, CAST(sum(w * x) AS BIGINT) AS swx,
             CAST(sum(w) AS BIGINT) AS sw
      FROM wts GROUP BY 1, 2),
    m AS (SELECT g, r, CAST(round(swx * 1000000 / sw) AS BIGINT) AS m
          FROM per_rep WHERE sw > 0),
    rk AS (
      SELECT g, m,
             row_number() OVER (PARTITION BY g ORDER BY m, r) AS rn,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS b,
             CAST(m - min(m) OVER (PARTITION BY g) AS BIGINT) AS d
      FROM m),
    boot AS (
      SELECT g,
             CAST(max(CASE WHEN rn = CAST(floor((b * 25 + 999) / 1000)
                                          AS BIGINT)
                           THEN m END) AS BIGINT) AS boot_lo_micro,
             CAST(max(CASE WHEN rn = CAST(floor((b * 975 + 999) / 1000)
                                          AS BIGINT)
                           THEN m END) AS BIGINT) AS boot_hi_micro,
             CAST(count(*) AS BIGINT) AS nb, CAST(sum(d) AS BIGINT) AS sm,
             CAST(sum(d * d) AS BIGINT) AS smm
      FROM rk GROUP BY g),
    pt AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(x) AS BIGINT) AS sx
           FROM base GROUP BY 1)
    SELECT pt.g AS source, n_rows,
           CAST(round(sx * 1000000 / n_rows) AS BIGINT) AS mean_micro,
           boot_lo_micro, boot_hi_micro,
           CASE WHEN nb > 1
                THEN CAST(round(sqrt((CAST(smm AS DOUBLE)
                                      - CAST(sm AS DOUBLE) * sm / nb)
                                     / (nb - 1))) AS BIGINT)
           END AS se_micro
    FROM pt JOIN boot ON boot.g = pt.g
    """,
)
def qa88(spark, sf):
    """Poissonized-bootstrap CI for mean doc length per source
    (operators/stats.py:bootstrap_mean_ci, 40 replicates) — the
    coordination-free bootstrap (each row enters replicate r with a
    Poisson(1) weight, so resampling is a map-side explode).  The draw
    compares 48 md5 bits against precomputed INTEGER cdf thresholds —
    zero floating point in the resampling; replicate means pivot-shift
    before squaring so SE sums stay in int64."""
    from .operators.stats import bootstrap_mean_ci

    return bootstrap_mean_ci(
        _t(spark, sf, "documents"), "source", "n_chars", "doc_id", 40
    )


# ---------------------------------------------------------------------------
# ranking / preference / off-policy / generation-overlap evaluation (qa89+)
# ---------------------------------------------------------------------------


def _qa89_oracle() -> str:
    from .operators.evaluate import ndcg_discounts_micro

    dm_rows = ", ".join(
        f"({p + 1}, CAST({d} AS BIGINT))"
        for p, d in enumerate(ndcg_discounts_micro(10))
    )
    return f"""
    WITH dm(p, d) AS (VALUES {dm_rows}),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
                 label AS ql
          FROM embeddings WHERE vec_id < 12),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qvec) * 1e6)
                  AS BIGINT) AS cos,
             CAST(CASE WHEN e.label = q.ql THEN 2
                       WHEN abs(e.label - q.ql) = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    topk AS (
      SELECT query_id, rel, r FROM (
        SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS r
        FROM scored)
      WHERE r <= 10),
    st AS (
      SELECT t.query_id, t.rel, d.d AS disc,
             row_number() OVER (PARTITION BY t.query_id
                                ORDER BY t.rel DESC, t.r) AS ir
      FROM topk t JOIN dm d ON d.p = t.r),
    per AS (
      SELECT s.query_id,
             CAST(sum(s.rel * s.disc) AS BIGINT) AS dcg_micro,
             CAST(sum(s.rel * d2.d) AS BIGINT) AS idcg_micro
      FROM st s JOIN dm d2 ON d2.p = s.ir
      GROUP BY 1),
    nd AS (
      SELECT query_id, dcg_micro, idcg_micro,
             CASE WHEN idcg_micro > 0
                  THEN CAST(round(dcg_micro * 1000000 / idcg_micro)
                            AS BIGINT)
             END AS ndcg_micro
      FROM per)
    SELECT query_id, dcg_micro, idcg_micro, ndcg_micro,
           CAST(round(sum(ndcg_micro) OVER () / count(ndcg_micro) OVER ())
                AS BIGINT) AS mean_ndcg_micro
    FROM nd
    """


@_q("qa89_ndcg", _qa89_oracle())
def qa89(spark, sf):
    """NDCG@10 of brute-force cosine retrieval with label-graded
    relevance (operators/evaluate.py:ndcg_at_k): rel 2 = same label,
    1 = adjacent label, 0 otherwise; position discounts are a
    Python-precomputed integer micro table injected into BOTH engines,
    so no engine evaluates ln — exactness by construction.  IDCG
    re-ranks the same relevance multiset with a total order; NDCG is
    one terminal division.  Swap the ranking stage for ivf_topk /
    lsh_bucketed_topk to score the ANN paths with graded credit that
    topk_recall's flat hit-rate can't express."""
    from .operators.evaluate import ndcg_at_k
    from .operators.similarity import cosine_cols

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_ql"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
            F.when(F.col("label") == F.col("_ql"), 2)
            .when(F.abs(F.col("label") - F.col("_ql")) == 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 10
    )
    return ndcg_at_k(ranked, "query_id", "rank", "rel", k=10)


def _qa90_oracle(rounds: int = 3) -> str:
    tera = 1_000_000_000_000
    ctes = [
        """
    per AS (SELECT user_id, event_type,
                   CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS m
            FROM events GROUP BY 1, 2),
    duels AS (
      SELECT CASE WHEN a.m > b.m THEN a.event_type ELSE b.event_type END
               AS winner,
             CASE WHEN a.m > b.m THEN b.event_type ELSE a.event_type END
               AS loser
      FROM per a JOIN per b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      WHERE a.m <> b.m),
    cells AS (
      SELECT least(winner, loser) AS ia, greatest(winner, loser) AS ib,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END)
                  AS BIGINT) AS wa
      FROM duels GROUP BY 1, 2),
    directed AS (
      SELECT ia AS i, ib AS j, n, wa AS w FROM cells
      UNION ALL
      SELECT ib, ia, n, n - wa FROM cells),
    totals AS (SELECT i, CAST(sum(n) AS BIGINT) AS n_total,
                      CAST(sum(w) AS BIGINT) AS n_wins
               FROM directed GROUP BY 1),
    w0 AS (SELECT i, CAST(1000000 AS BIGINT) AS wv FROM totals)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
    s{r} AS (
      SELECT d.i,
             CAST(sum((d.n * {tera}) // (wi.wv + wj.wv)) AS BIGINT) AS s
      FROM directed d
      JOIN w{r - 1} wi ON wi.i = d.i
      JOIN w{r - 1} wj ON wj.i = d.j
      GROUP BY 1),
    w{r} AS (
      SELECT t.i,
             CAST(greatest((t.n_wins * {tera}) // greatest(s{r}.s, 1), 1)
                  AS BIGINT) AS wv
      FROM totals t JOIN s{r} ON s{r}.i = t.i)"""
        )
    return (
        "\n    WITH "
        + ",".join(ctes)
        + f"""
    SELECT t.i AS item, t.n_total AS n_duels, t.n_wins,
           w{rounds}.wv AS strength_micro,
           CAST(round(w{rounds}.wv * 1000000 / sum(w{rounds}.wv) OVER ())
                AS BIGINT) AS p_micro,
           CAST(row_number() OVER (ORDER BY w{rounds}.wv DESC, t.i)
                AS INT) AS rank
    FROM totals t JOIN w{rounds} ON w{rounds}.i = t.i
    """
    )


@_q("qa90_bradley_terry", _qa90_oracle())
def qa90(spark, sf):
    """Bradley-Terry preference strengths over event-type duels
    (operators/preference.py): each user's pairwise floored-value
    comparisons are the duel stream (the big-data shuffle), Hunter's MM
    iteration then runs 3 unrolled INT64 rounds on the
    dictionary-sized item table — truncating integer division is
    defined identically in both engines, so the DuckDB oracle chains
    the rounds as CTEs and matches bit-for-bit.  The RLHF shape: swap
    event types for model variants and value for human preference."""
    from .operators.preference import bradley_terry_strengths, duel_matrix

    ev = _t(spark, sf, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.floor("value").cast("long")).cast("long").alias("_m")
    )
    a = per.select(
        F.col("user_id").alias("_u"),
        F.col("event_type").alias("_ta"),
        F.col("_m").alias("_ma"),
    )
    b = per.select(
        F.col("user_id").alias("_u"),
        F.col("event_type").alias("_tb"),
        F.col("_m").alias("_mb"),
    )
    duels = (
        a.join(b, "_u")
        .where((F.col("_ta") < F.col("_tb")) & (F.col("_ma") != F.col("_mb")))
        .select(
            F.when(F.col("_ma") > F.col("_mb"), F.col("_ta"))
            .otherwise(F.col("_tb"))
            .alias("winner"),
            F.when(F.col("_ma") > F.col("_mb"), F.col("_tb"))
            .otherwise(F.col("_ta"))
            .alias("loser"),
        )
    )
    return bradley_terry_strengths(duel_matrix(duels), rounds=3)


@_q(
    "qa91_ips_policy_eval",
    """
    WITH logged AS (SELECT user_id % 10 AS x, event_type AS a,
                           CAST(floor(value) AS BIGINT) AS r
                    FROM events),
    cells AS (SELECT x, a, CAST(count(*) AS BIGINT) AS nxa,
                     CAST(sum(r) AS BIGINT) AS rsum
              FROM logged GROUP BY 1, 2),
    cells2 AS (SELECT *, CAST(sum(nxa) OVER (PARTITION BY x) AS BIGINT)
                           AS nx
               FROM cells),
    cells3 AS (SELECT *, CAST(round(nx * 1000000 / nxa) AS BIGINT) AS w
               FROM cells2),
    pol AS (SELECT x, a FROM (
              SELECT x, a, row_number() OVER (PARTITION BY x
                              ORDER BY rsum DESC, a) AS rn
              FROM cells)
            WHERE rn = 1),
    m AS (SELECT c.*, CASE WHEN p.a IS NOT NULL THEN 1 ELSE 0 END AS pi
          FROM cells3 c LEFT JOIN pol p ON p.x = c.x AND p.a = c.a),
    agg AS (SELECT CAST(sum(nxa) AS BIGINT) AS n_logged,
                   CAST(sum(pi * nxa) AS BIGINT) AS n_matched,
                   CAST(sum(pi * rsum * w) AS BIGINT) AS swr,
                   CAST(sum(pi * nxa * w) AS BIGINT) AS sw,
                   CAST(sum(pi * nxa * w * w) AS BIGINT) AS sww
            FROM m)
    SELECT n_logged, n_matched,
           CAST(round(swr / n_logged) AS BIGINT) AS ips_value_micro,
           CASE WHEN n_matched > 0
                THEN CAST(round(CAST(swr AS DOUBLE) * 1000000 / sw)
                          AS BIGINT)
           END AS snips_value_micro,
           CASE WHEN n_matched > 0
                THEN CAST(round(CAST(sw AS DOUBLE) * sw * 1000000 / sww)
                          AS BIGINT)
           END AS ess_micro
    FROM agg
    """,
)
def qa91(spark, sf):
    """Off-policy IPS/SNIPS evaluation of "always play the segment's
    empirically-best event type" from logged traffic (operators/
    evaluate.py:ips_policy_value): empirical propensities from
    (segment, action) cell counts, inverse weights micro-rounded once
    per CELL, matched contributions exact int64, plus the effective
    sample size that says whether the estimate is usable.  Segments =
    user_id % 10; reward = floored value."""
    from .operators.evaluate import ips_policy_value

    ev = _t(spark, sf, "events")
    logged = ev.select(
        (F.col("user_id") % 10).alias("segment"),
        F.col("event_type").alias("action"),
        F.floor("value").cast("long").alias("reward"),
    )
    cells = logged.groupBy("segment", "action").agg(
        F.sum("reward").cast("long").alias("_t")
    )
    wp = Window.partitionBy("segment").orderBy(
        F.col("_t").desc(), F.col("action")
    )
    policy = (
        cells.withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") == 1)
        .select("segment", "action")
    )
    return ips_policy_value(
        logged, policy, "segment", "action", "reward"
    )


@_q(
    "qa92_log_bleu",
    r"""
    WITH ranked AS (
      SELECT source, doc_id, text,
             row_number() OVER (PARTITION BY source ORDER BY doc_id)
               AS rn,
             lead(text) OVER (PARTITION BY source ORDER BY doc_id)
               AS ht
      FROM documents),
    prs AS (
      SELECT source || ':' || CAST((rn - 1) // 2 AS VARCHAR) AS pid,
             text AS rt, ht
      FROM ranked WHERE rn % 2 = 1 AND ht IS NOT NULL),
    melted AS (
      SELECT pid, 0 AS side,
             lower(trim(regexp_replace(rt, '\s+', ' ', 'g'))) AS norm
      FROM prs
      UNION ALL
      SELECT pid, 1,
             lower(trim(regexp_replace(ht, '\s+', ' ', 'g')))
      FROM prs),
    toks AS (
      SELECT pid, side, idx, w FROM (
        SELECT pid, side,
               unnest(string_split(norm, ' ')) AS w,
               generate_subscripts(string_split(norm, ' '), 1) AS idx
        FROM melted)
      WHERE w <> ''),
    g2 AS (
      SELECT pid, side, w AS g1,
             w || ' ' || lead(w) OVER (PARTITION BY pid, side
                                       ORDER BY idx) AS gram2,
             (lead(w) OVER (PARTITION BY pid, side ORDER BY idx)
              IS NOT NULL) AS has2
      FROM toks),
    c1 AS (SELECT pid, side, g1 AS g, CAST(count(*) AS BIGINT) AS c
           FROM g2 GROUP BY 1, 2, 3),
    c2 AS (SELECT pid, side, gram2 AS g, CAST(count(*) AS BIGINT) AS c
           FROM g2 WHERE has2 GROUP BY 1, 2, 3),
    clip1t AS (
      SELECT h.pid, CAST(sum(least(h.c, r.c)) AS BIGINT) AS clip1
      FROM (SELECT * FROM c1 WHERE side = 1) h
      JOIN (SELECT * FROM c1 WHERE side = 0) r
        ON r.pid = h.pid AND r.g = h.g
      GROUP BY 1),
    clip2t AS (
      SELECT h.pid, CAST(sum(least(h.c, r.c)) AS BIGINT) AS clip2
      FROM (SELECT * FROM c2 WHERE side = 1) h
      JOIN (SELECT * FROM c2 WHERE side = 0) r
        ON r.pid = h.pid AND r.g = h.g
      GROUP BY 1),
    lens AS (
      SELECT pid,
             CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ref_len,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hyp_len
      FROM toks GROUP BY 1
      HAVING ref_len > 0 AND hyp_len > 0),
    j AS (
      SELECT l.pid, l.ref_len, l.hyp_len,
             CAST(coalesce(c1t.clip1, 0) AS BIGINT) AS clip1,
             CAST(coalesce(c2t.clip2, 0) AS BIGINT) AS clip2
      FROM lens l
      LEFT JOIN clip1t c1t ON c1t.pid = l.pid
      LEFT JOIN clip2t c2t ON c2t.pid = l.pid),
    sc AS (
      SELECT pid, ref_len, hyp_len, clip1, clip2,
             CAST(round(1000000 * least(0.0,
                    1.0 - CAST(ref_len AS DOUBLE) / hyp_len))
                  AS BIGINT) AS bp_micro,
             CAST(round(500000.0 * ln(CAST(clip1 + 1 AS DOUBLE)
                                      / (hyp_len + 1)))
                  AS BIGINT) AS logp1_micro,
             CAST(round(500000.0 * ln(CAST(clip2 + 1 AS DOUBLE)
                                      / (greatest(hyp_len - 1, 0) + 1)))
                  AS BIGINT) AS logp2_micro
      FROM j)
    SELECT pid AS pair_id, ref_len, hyp_len, clip1, clip2,
           bp_micro, logp1_micro, logp2_micro,
           CAST(bp_micro + logp1_micro + logp2_micro AS BIGINT)
             AS log_bleu_micro
    FROM sc
    """,
)
def qa92(spark, sf):
    """Corpus log-BLEU (unigram+bigram, add-one smoothing) between
    adjacent same-source document pairs (operators/evaluate.py:
    log_bleu) — the n-gram generation/near-copy overlap score as one
    distributed job: lead()-built gram streams (never a
    transform-array explode — the q63 Generate trap), clipped counts
    via per-pair inner gram joins, ln only on single-division ratios
    (the qa66 idiom).  Pairing here is the deterministic adjacent-doc
    demo; feed real (reference, hypothesis) pairs in production."""
    from .operators.evaluate import log_bleu

    d = _t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select("source", "doc_id", "text").select(
        "source",
        "doc_id",
        "text",
        F.row_number().over(w).alias("_rn"),
        F.lead("text", 1).over(w).alias("_ht"),
    )
    pairs = ranked.where(
        (F.col("_rn") % 2 == 1) & F.col("_ht").isNotNull()
    ).select(
        F.concat_ws(
            ":",
            "source",
            F.expr("CAST((_rn - 1) div 2 AS STRING)"),
        ).alias("pair_id"),
        F.col("text").alias("ref_text"),
        F.col("_ht").alias("hyp_text"),
    )
    return log_bleu(pairs, "pair_id", "ref_text", "hyp_text")


_QA93_WORDS = (
    "len(list_filter(string_split(lower(trim(regexp_replace(text,"
    "'\\s+',' ','g'))),' '), w -> w <> ''))"
)


@_q(
    "qa93_krippendorff_alpha",
    f"""
    WITH ratings AS (
      SELECT doc_id AS u, 'len' AS r,
             CASE WHEN n_chars < 200 THEN 0
                  WHEN n_chars < 400 THEN 1 ELSE 2 END AS c
      FROM documents
      UNION ALL
      SELECT doc_id, 'words',
             CASE WHEN {_QA93_WORDS} < 40 THEN 0
                  WHEN {_QA93_WORDS} < 70 THEN 1 ELSE 2 END
      FROM documents
      UNION ALL
      SELECT doc_id, 'hash',
             CAST(CAST('0x' || substr(md5('r3|' || CAST(doc_id AS VARCHAR)),
                                      1, 1) AS INT) % 3 AS INT)
      FROM documents),
    per_cell AS (SELECT u, c, CAST(count(*) AS BIGINT) AS ruc
                 FROM ratings GROUP BY 1, 2),
    wm AS (SELECT *, CAST(sum(ruc) OVER (PARTITION BY u) AS BIGINT) AS mu
           FROM per_cell),
    wm2 AS (SELECT * FROM wm WHERE mu >= 2),
    item AS (SELECT u, CAST(max(mu) AS BIGINT) AS mu,
                    CAST(sum(ruc * (mu - ruc)) AS BIGINT) AS dis
             FROM wm2 GROUP BY 1),
    ido AS (SELECT mu, CAST(round(dis * 1000000 / (mu - 1)) AS BIGINT)
                     AS dou
            FROM item),
    marg AS (SELECT c, CAST(sum(ruc) AS BIGINT) AS nc FROM wm2 GROUP BY 1),
    tot AS (SELECT CAST(sum(ruc) AS BIGINT) AS n FROM wm2),
    de AS (SELECT CAST(max(n) AS BIGINT) AS n,
                  CAST(sum(nc * (n - nc)) AS BIGINT) AS de_num
           FROM marg CROSS JOIN tot),
    dos AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(mu) AS BIGINT) AS n_ratings,
                   CAST(sum(dou) AS BIGINT) AS do_sum
            FROM ido),
    st AS (SELECT n_items, n_ratings,
                  CAST(round(do_sum / n_ratings) AS BIGINT) AS do_micro,
                  CAST(round(CAST(de_num AS DOUBLE) * 1000000
                             / (n * (n - 1))) AS BIGINT) AS de_micro
           FROM dos CROSS JOIN de)
    SELECT n_items, n_ratings, do_micro, de_micro,
           CASE WHEN de_micro > 0
                THEN CAST(round((de_micro - do_micro) * 1000000 / de_micro)
                          AS BIGINT)
           END AS alpha_micro
    FROM st
    """,
)
def qa93(spark, sf):
    """Krippendorff's alpha (nominal) across three deterministic
    document "raters" — char-length band, word-count band, and an
    md5-noise rater (operators/evaluate.py:krippendorff_alpha_nominal):
    the missing-data-tolerant agreement coefficient that generalizes
    qa61's Fleiss kappa.  Per-item observed disagreement micro-rounds
    its single (m_u−1) division then integer-sums; expected
    disagreement is pure int64; alpha one terminal division."""
    from .operators.evaluate import krippendorff_alpha_nominal
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    r1 = d.select(
        F.col("doc_id").alias("item"),
        F.lit("len").alias("rater"),
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 400, 1)
        .otherwise(2)
        .alias("label"),
    )
    nw = F.size(words_col(F.col("text")))
    r2 = d.select(
        F.col("doc_id").alias("item"),
        F.lit("words").alias("rater"),
        F.when(nw < 40, 0).when(nw < 70, 1).otherwise(2).alias("label"),
    )
    r3 = d.select(
        F.col("doc_id").alias("item"),
        F.lit("hash").alias("rater"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("r3|"), F.col("doc_id").cast("string"))),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            % 3
        ).alias("label"),
    )
    return krippendorff_alpha_nominal(
        r1.unionByName(r2).unionByName(r3), "item", "rater", "label"
    )


@_q(
    "qa94_pq_codebook",
    """
    WITH dims AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS val
      FROM embeddings),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS code,
             vec_id
      FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM embeddings ORDER BY h, vec_id LIMIT 8)),
    cbdims AS (
      SELECT seeds.code, dims.pos, dims.val
      FROM seeds JOIN dims USING (vec_id)),
    d AS (
      SELECT s.vec_id, s.pos // 16 AS ss, c.code,
             CAST(sum((s.val - c.val) * (s.val - c.val)) AS BIGINT) AS dist
      FROM dims s JOIN cbdims c ON c.pos = s.pos
      GROUP BY 1, 2, 3),
    asg AS (
      SELECT vec_id, ss, code, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, ss
                                     ORDER BY dist, code) AS rn
        FROM d)
      WHERE rn = 1),
    per AS (
      SELECT ss, code, CAST(count(*) AS BIGINT) AS n_assigned,
             CAST(sum(dist) AS BIGINT) AS sum_sq_dist
      FROM asg GROUP BY 1, 2)
    SELECT CAST(ss AS BIGINT) AS subspace, code, n_assigned, sum_sq_dist,
           CAST(round(CAST(sum_sq_dist AS DOUBLE) / n_assigned) AS BIGINT)
             AS mean_sq_dist,
           CAST(round(n_assigned * 1000000
                      / sum(n_assigned) OVER (PARTITION BY ss)) AS BIGINT)
             AS share_micro
    FROM per
    """,
)
def qa94(spark, sf):
    """Product-quantization codebook audit over the embeddings (M=4
    subspaces x 8 codes, operators/similarity.py:pq_codebook_report):
    md5-rank-seeded per-subspace codebooks, integer micro squared-
    distance argmin assignment, per-code population share and
    distortion — the memory-vs-distortion planning table for
    PQ-compressed ANN (Jegou et al. 2011) at 100 TB."""
    from .operators.similarity import pq_codebook_report

    return pq_codebook_report(
        _t(spark, sf, "embeddings"), "vec_id", "embedding", 4, 8, 16
    )


def _qa95_oracle() -> str:
    import math

    from .operators.temporal import sprt_wald_bounds_micro

    up, lo = sprt_wald_bounds_micro(5, 5)
    a_micro = round(1_000_000 * math.log(12 / 10))
    return f"""
    WITH ext AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                 FROM events),
    b AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
                 (epoch_us(ts) * 2 < ext.lo + ext.hi) AS pre
          FROM events CROSS JOIN ext),
    pre AS (SELECT CAST(count(*) AS BIGINT) AS n0,
                   CAST(sum(x) AS BIGINT) AS x0
            FROM b WHERE pre),
    bc AS (SELECT n0, x0,
             CASE WHEN x0 > 0 AND x0 < n0 AND 10 * n0 > 12 * x0
                  THEN CAST(round(1000000.0 *
                         ln(CAST(10 * n0 - 12 * x0 AS DOUBLE)
                            / (10 * (n0 - x0)))) AS BIGINT)
             END AS bm
           FROM pre),
    daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_trials,
                     CAST(sum(x) AS BIGINT) AS n_success
              FROM b WHERE NOT pre GROUP BY 1),
    st AS (SELECT d.day, d.n_trials, d.n_success,
                  CAST(d.n_success * {a_micro}
                       + (d.n_trials - d.n_success) * bc.bm AS BIGINT)
                    AS llr_day_micro
           FROM daily d CROSS JOIN bc WHERE bc.bm IS NOT NULL),
    cumt AS (SELECT *, CAST(sum(llr_day_micro)
                            OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS cum_llr_micro
             FROM st)
    SELECT day, n_trials, n_success, llr_day_micro, cum_llr_micro,
           CASE WHEN cum_llr_micro >= {up} THEN 'accept_h1'
                WHEN cum_llr_micro <= {lo} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cumt
    """


@_q("qa95_sprt_monitor", _qa95_oracle())
def qa95(spark, sf):
    """Wald SPRT daily monitor on the purchase rate (operators/
    temporal.py:sprt_daily_audit): baseline from the first half of the
    time range, H1 = 1.2x lift, per-day LLR increments as int64
    products of Python-injected/once-computed micro log terms,
    cumulative LLR vs the +-ln(19) Wald bounds — always-valid
    sequential early stopping, the experimentation complement to the
    qa47/qa54 CUSUM monitors."""
    from .operators.temporal import sprt_daily_audit

    return sprt_daily_audit(
        _t(spark, sf, "events"),
        "ts",
        (F.col("event_type") == "purchase").cast("long"),
        12,
        10,
        5,
        5,
    )


@_q(
    "qa96_readability",
    f"""
    WITH c AS (
      SELECT doc_id,
             CAST({_QA93_WORDS} AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents),
    f AS (SELECT * FROM c WHERE n_words > 0),
    s AS (SELECT doc_id, n_words, n_sentences, n_syllables,
                 CAST(round(n_words * 1015000 / n_sentences) AS BIGINT)
                   AS wps,
                 CAST(round(n_syllables * 84600000 / n_words) AS BIGINT)
                   AS spw,
                 CAST(round(n_words * 390000 / n_sentences) AS BIGINT)
                   AS gwps,
                 CAST(round(n_syllables * 11800000 / n_words) AS BIGINT)
                   AS gspw
          FROM f)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(206835000 - wps - spw AS BIGINT) AS fre_micro,
           CAST(gwps + gspw - 15590000 AS BIGINT) AS fkgl_micro
    FROM s
    """,
)
def qa96(spark, sf):
    """Flesch reading-ease + Flesch-Kincaid grade per document from
    deterministic regex proxies (operators/textstats.py:
    readability_scores): vowel-group syllables, terminator-run
    sentences, canonical word tokens; each ratio term micro-rounds its
    single division independently then integer-combines.  Map-only —
    the readability gate for corpus curation."""
    from .operators.textstats import readability_scores

    return readability_scores(_t(spark, sf, "documents"), "text", "doc_id")


def _qa97_oracle(k: int = 10) -> str:
    from .operators.evaluate import rbo_weights_micro

    w = rbo_weights_micro(k)
    suffix = [0] * (k + 2)
    for d in range(k, 0, -1):
        suffix[d] = suffix[d + 1] + w[d - 1]
    sfx_rows = ", ".join(
        f"({d}, CAST({suffix[d]} AS BIGINT))" for d in range(1, k + 1)
    )
    return f"""
    WITH sfx(m, w) AS (VALUES {sfx_rows}),
    wtab AS (SELECT doc_id, lang, n_chars,
                    CAST({_QA93_WORDS} AS BIGINT) AS n_words
             FROM documents),
    a AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY n_chars DESC, doc_id) AS ra
          FROM wtab),
    b AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY n_words DESC, doc_id) AS rb
          FROM wtab),
    ak AS (SELECT * FROM a WHERE ra <= {k}),
    bk AS (SELECT * FROM b WHERE rb <= {k}),
    g AS (SELECT DISTINCT lang FROM
            (SELECT lang FROM ak UNION ALL SELECT lang FROM bk)),
    m AS (SELECT ak.lang, greatest(ak.ra, bk.rb) AS m
          FROM ak JOIN bk ON bk.lang = ak.lang AND bk.doc_id = ak.doc_id),
    per AS (SELECT m.lang, CAST(count(*) AS BIGINT) AS n_common_at_k,
                   CAST(sum(s.w) AS BIGINT) AS rbo_micro
            FROM m JOIN sfx s ON s.m = m.m GROUP BY 1)
    SELECT g.lang,
           CAST(coalesce(per.n_common_at_k, 0) AS BIGINT) AS n_common_at_k,
           CAST(coalesce(per.rbo_micro, 0) AS BIGINT) AS rbo_micro
    FROM g LEFT JOIN per ON per.lang = g.lang
    """


@_q("qa97_rbo", _qa97_oracle())
def qa97(spark, sf):
    """Truncated rank-biased overlap RBO@10 (p=0.9) between each
    language's length ranking and word-count ranking (operators/
    evaluate.py:rbo_truncated): prefix intersections from ONE
    equi-join via the m = max(rank_a, rank_b) cumulative trick;
    per-depth weights (with /d folded in) are Python-precomputed
    integer micros, so the score is an exact int64 sum — zero engine
    division.  The top-weighted ranking-stability metric for ANN-vs-
    exact and feed-drift comparisons."""
    from .operators.evaluate import rbo_truncated
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    wtab = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.size(words_col(F.col("text"))).cast("long").alias("_nw"),
    )
    wa = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wb = Window.partitionBy("lang").orderBy(
        F.col("_nw").desc(), F.col("doc_id")
    )
    a = wtab.select("lang", "doc_id", F.row_number().over(wa).alias("rank"))
    b = wtab.select("lang", "doc_id", F.row_number().over(wb).alias("rank"))
    return rbo_truncated(a, b, "lang", "doc_id", "rank", k=10)


@_q(
    "qa98_kmv_set_ops",
    f"""
    WITH d AS (
      SELECT DISTINCT source AS g, w AS v FROM (
        SELECT source,
               unnest(list_filter(string_split(lower(trim(regexp_replace(
                 text, '\\s+', ' ', 'g'))), ' '), x -> x <> '')) AS w
        FROM documents)),
    h AS (SELECT g, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h FROM d),
    r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
          FROM h),
    sk AS (SELECT g, h FROM r WHERE rn <= 64),
    gs AS (SELECT DISTINCT g FROM sk),
    pairs AS (SELECT a.g AS ga, b.g AS gb
              FROM gs a CROSS JOIN gs b WHERE a.g < b.g),
    cand AS (
      SELECT p.ga, p.gb, s.h, 1 AS ina, 0 AS inb
      FROM pairs p JOIN sk s ON s.g = p.ga
      UNION ALL
      SELECT p.ga, p.gb, s.h, 0, 1
      FROM pairs p JOIN sk s ON s.g = p.gb),
    merged AS (SELECT ga, gb, h, max(ina) AS ina, max(inb) AS inb
               FROM cand GROUP BY 1, 2, 3),
    u AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
          FROM merged),
    uk AS (SELECT * FROM u WHERE r <= 64),
    agg AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_sketch,
                   max(CASE WHEN r = 64 THEN h END) AS kth,
                   CAST(sum(ina * inb) AS BIGINT) AS n_matched
            FROM uk GROUP BY 1, 2),
    st AS (SELECT ga AS group_a, gb AS group_b, n_sketch, n_matched,
                  CAST(CASE WHEN kth IS NULL THEN n_sketch
                       ELSE round(63 * pow(2, 60) / kth) END AS BIGINT)
                    AS union_est
           FROM agg)
    SELECT group_a, group_b, n_sketch, n_matched, union_est,
           CAST(round(n_matched * 1000000 / n_sketch) AS BIGINT)
             AS jaccard_micro,
           CAST(round(n_matched * union_est / n_sketch) AS BIGINT)
             AS inter_est
    FROM st
    """,
)
def qa98(spark, sf):
    """Pairwise vocabulary overlap between sources from KMV sketches
    (operators/sketch.py:kmv_set_ops, k=64): union-of-min-k = min-k of
    union, Jaccard = matched fraction of the union sketch,
    intersection re-scales — the sketch algebra that compares every
    source pair without joining full vocabularies (pair math runs on
    a (sources x 64)-row table regardless of corpus size).  60-bit
    md5 hashes make every estimate bit-identical across engines."""
    from .operators.sketch import kmv_set_ops
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    words = d.select(
        "source", F.explode(words_col(F.col("text"))).alias("word")
    )
    return kmv_set_ops(words, "source", "word", k=64)


@_q(
    "qa99_randomization_test",
    f"""
    WITH base AS (SELECT lang AS g, n_chars AS x, doc_id AS id
                  FROM documents WHERE lang IN ('en', 'de')),
    sizes AS (
      SELECT CAST(sum(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN g = 'de' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
             CAST(sum(CASE WHEN g = 'en' THEN x ELSE 0 END) AS BIGINT)
               AS sa,
             CAST(sum(CASE WHEN g = 'de' THEN x ELSE 0 END) AS BIGINT)
               AS sb
      FROM base),
    reps AS (SELECT CAST(range AS INT) AS r FROM range(200)),
    asg AS (
      SELECT b.x, rp.r,
             (CAST('0x' || substr(md5('perm:' || CAST(b.id AS VARCHAR)
                                      || ':' || CAST(rp.r AS VARCHAR)),
                                  1, 10) AS BIGINT)
              < (s.na * {2**40}) // (s.na + s.nb)) AS toa
      FROM base b CROSS JOIN sizes s CROSS JOIN reps rp),
    per_rep AS (
      SELECT r,
             CAST(sum(CASE WHEN toa THEN 1 ELSE 0 END) AS BIGINT) AS ra,
             CAST(sum(CASE WHEN toa THEN 0 ELSE 1 END) AS BIGINT) AS rb,
             CAST(sum(CASE WHEN toa THEN x ELSE 0 END) AS BIGINT) AS rsa,
             CAST(sum(CASE WHEN toa THEN 0 ELSE x END) AS BIGINT) AS rsb
      FROM asg GROUP BY 1),
    rep_stats AS (
      SELECT CASE WHEN ra > 0 AND rb > 0
                  THEN abs(CAST(round(rsa * 1000000 / ra) AS BIGINT)
                           - CAST(round(rsb * 1000000 / rb) AS BIGINT))
             END AS absd
      FROM per_rep),
    obs AS (SELECT na AS n_a, nb AS n_b,
                   CAST(round(sa * 1000000 / na) AS BIGINT) AS mean_a_micro,
                   CAST(round(sb * 1000000 / nb) AS BIGINT) AS mean_b_micro
            FROM sizes),
    obs2 AS (SELECT *, CAST(mean_a_micro - mean_b_micro AS BIGINT)
                         AS diff_obs_micro
             FROM obs),
    cnt AS (
      SELECT CAST(max(n_a) AS BIGINT) AS n_a,
             CAST(max(n_b) AS BIGINT) AS n_b,
             CAST(max(mean_a_micro) AS BIGINT) AS mean_a_micro,
             CAST(max(mean_b_micro) AS BIGINT) AS mean_b_micro,
             CAST(max(diff_obs_micro) AS BIGINT) AS diff_obs_micro,
             CAST(count(*) AS BIGINT) AS n_reps,
             CAST(sum(CASE WHEN absd IS NULL
                           OR absd >= abs(diff_obs_micro)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM rep_stats CROSS JOIN obs2)
    SELECT n_a, n_b, mean_a_micro, mean_b_micro, diff_obs_micro, n_reps,
           n_extreme,
           CAST(round((n_extreme + 1) * 1000000 / (n_reps + 1)) AS BIGINT)
             AS p_value_micro
    FROM cnt
    """,
)
def qa99(spark, sf):
    """Randomization test for the en-vs-de mean doc-length difference
    (operators/stats.py:randomization_test_means, 200 replicates):
    coordination-free label reshuffling — each unit joins arm A in
    replicate r iff 40 md5 bits fall under an integer threshold
    derived from the observed sizes (the qa88 explode idiom) — with
    per-replicate mean differences as two micro-rounded divisions and
    an add-one-smoothed p-value.  The assumption-free significance
    gate behind any 'these two slices differ' claim."""
    from .operators.stats import randomization_test_means

    return randomization_test_means(
        _t(spark, sf, "documents"),
        "lang",
        "n_chars",
        "doc_id",
        "en",
        "de",
        n_reps=200,
        salt="perm",
    )


# ---------------------------------------------------------------------------
# scaling-law / capacity / causal-trend analytics (qb00+)
# ---------------------------------------------------------------------------


@_q(
    "qb00_its_slope_change",
    """
    WITH base AS (SELECT epoch_us(ts) AS us,
                         epoch_us(ts) // 86400000000 AS d,
                         CAST(floor(value) AS BIGINT) AS m
                  FROM events),
    ext AS (SELECT min(us) AS lo, max(us) AS hi FROM base),
    daily AS (
      SELECT d, pre, CAST(sum(m) AS BIGINT) AS y FROM (
        SELECT d, m, (us * 2 < ext.lo + ext.hi) AS pre
        FROM base CROSS JOIN ext)
      GROUP BY 1, 2),
    idx AS (SELECT pre, y,
                   CAST(row_number() OVER (PARTITION BY pre ORDER BY d) - 1
                        AS BIGINT) AS t
            FROM daily),
    mo AS (SELECT pre, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(t) AS BIGINT) AS st,
                  CAST(sum(t * t) AS BIGINT) AS stt,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(t * y) AS BIGINT) AS sty
           FROM idx GROUP BY 1),
    staged AS (
      SELECT pre, n, st, sy,
             CASE WHEN n >= 2
                  THEN CAST(round((n * sty - st * sy) * 1000000
                                  / (n * stt - st * st)) AS BIGINT)
             END AS slope
      FROM mo),
    fitted AS (
      SELECT pre, n AS n_days, slope,
             CASE WHEN n >= 2
                  THEN CAST(round((sy * 1000000 - slope * st) / n)
                            AS BIGINT)
             END AS icept
      FROM staged),
    pre_t AS (SELECT n_days AS n_days_pre, slope AS slope_pre_micro,
                     icept AS intercept_pre_micro
              FROM fitted WHERE pre),
    post_t AS (SELECT n_days AS n_days_post, slope AS slope_post_micro,
                      icept AS intercept_post_micro
               FROM fitted WHERE NOT pre)
    SELECT n_days_pre, n_days_post, slope_pre_micro, slope_post_micro,
           CASE WHEN slope_pre_micro IS NOT NULL
                 AND slope_post_micro IS NOT NULL
                THEN CAST(slope_post_micro - slope_pre_micro AS BIGINT)
           END AS delta_slope_micro,
           intercept_pre_micro, intercept_post_micro,
           CASE WHEN slope_pre_micro IS NOT NULL
                 AND slope_post_micro IS NOT NULL
                THEN CAST(intercept_post_micro
                          - (intercept_pre_micro
                             + slope_pre_micro * n_days_pre) AS BIGINT)
           END AS level_jump_micro
    FROM pre_t CROSS JOIN post_t
    """,
)
def qb00(spark, sf):
    """Interrupted-time-series audit of daily metric volume (operators/
    temporal.py:its_slope_change): OLS trend fitted separately on each
    half of the time range from five exact integer moments per half,
    slope change and boundary level jump by integer arithmetic on the
    already-rounded micro slopes — segmented regression, the 'did the
    deploy bend the curve' gate."""
    from .operators.temporal import its_slope_change

    return its_slope_change(_t(spark, sf, "events"), "ts", F.floor("value"))


@_q(
    "qb01_hill_tail_index",
    """
    WITH totals AS (SELECT event_type AS g, user_id AS id,
                           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT)
                             AS x
                    FROM events GROUP BY 1, 2),
    pos AS (SELECT * FROM totals WHERE x > 0),
    ranked AS (SELECT g, id, x,
                      row_number() OVER (PARTITION BY g
                                         ORDER BY x DESC, id) AS r
               FROM pos),
    topk AS (SELECT * FROM ranked WHERE r <= 10),
    kth AS (SELECT g, x AS xk FROM topk WHERE r = 10),
    tail AS (SELECT t.g, t.x, k.xk FROM topk t JOIN kth k ON k.g = t.g
             WHERE t.r < 10),
    per AS (SELECT g, xk,
                   CAST(round(1000000.0 *
                          ln(CAST(x AS DOUBLE) / xk)) AS BIGINT) AS lnm
            FROM tail),
    agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_tail,
                   CAST(max(xk) AS BIGINT) AS x_k,
                   CAST(sum(lnm) AS BIGINT) AS s
            FROM per GROUP BY 1),
    staged AS (SELECT g AS event_type, n_tail, x_k,
                      CASE WHEN n_tail >= 2
                           THEN CAST(round(s / n_tail) AS BIGINT)
                      END AS hill_h_micro
               FROM agg)
    SELECT event_type, n_tail, x_k, hill_h_micro,
           CASE WHEN hill_h_micro > 0
                THEN CAST(round(1000000000000 / hill_h_micro)
                          AS BIGINT)
           END AS alpha_micro
    FROM staged
    """,
)
def qb01(spark, sf):
    """Hill power-law tail index of per-user activity value within each
    event type, top-10 order statistics (operators/stats.py:
    hill_tail_index): per-row micro-rounded ln of one integer-division
    ratio, exact integer fold, alpha = 1/H — the quantitative skew
    verdict (alpha <= 2 means salting is mandatory) upgrading qa68's
    count heuristics."""
    from .operators.stats import hill_tail_index

    ev = _t(spark, sf, "events")
    totals = ev.groupBy(
        F.col("event_type"), F.col("user_id")
    ).agg(F.sum(F.floor("value").cast("long")).cast("long").alias("_x"))
    return hill_tail_index(totals, "event_type", "_x", "user_id", k=10)


_QB02_WORDS_DAY = r"""
    docs2 AS (SELECT text,
                     DATE '2024-01-01' + CAST(doc_id % 30 AS INT) AS day
              FROM documents),
    tok AS (SELECT day,
                   unnest(list_filter(string_split(lower(trim(
                     regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                     w -> w <> '')) AS w
            FROM docs2)
"""


@_q(
    "qb02_heaps_law",
    f"""
    WITH {_QB02_WORDS_DAY},
    daily_tokens AS (SELECT day, CAST(count(*) AS BIGINT) AS nt
                     FROM tok GROUP BY 1),
    first_seen AS (SELECT w, min(day) AS day FROM tok GROUP BY 1),
    daily_new AS (SELECT day, CAST(count(*) AS BIGINT) AS nv
                  FROM first_seen GROUP BY 1),
    curve AS (
      SELECT dt.day,
             CAST(sum(dt.nt) OVER (ORDER BY dt.day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS ct,
             CAST(sum(coalesce(dn.nv, 0))
                  OVER (ORDER BY dt.day ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cv
      FROM daily_tokens dt LEFT JOIN daily_new dn ON dn.day = dt.day),
    pts AS (SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 1000) AS BIGINT)
                     AS x,
                   CAST(round(ln(CAST(cv AS DOUBLE)) * 1000) AS BIGINT)
                     AS y,
                   ct, cv
            FROM curve),
    mo AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                  CAST(max(ct) AS BIGINT) AS n_tokens,
                  CAST(max(cv) AS BIGINT) AS n_vocab,
                  CAST(sum(x) AS BIGINT) AS sx,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x * x) AS BIGINT) AS sxx,
                  CAST(sum(x * y) AS BIGINT) AS sxy
           FROM pts),
    staged AS (
      SELECT n_days, n_tokens, n_vocab, sx, sy,
             CASE WHEN n_days >= 2
                   AND n_days * sxx - sx * sx > 0
                  THEN CAST(round((n_days * sxy - sx * sy) * 1000000
                                  / (n_days * sxx - sx * sx)) AS BIGINT)
             END AS beta_micro
      FROM mo)
    SELECT n_days, n_tokens, n_vocab, beta_micro,
           CASE WHEN beta_micro IS NOT NULL
                THEN CAST(round((sy * 1000000 - beta_micro * sx)
                                / (n_days * 1000000)) AS BIGINT)
           END AS intercept_milli
    FROM staged
    """,
)
def qb02(spark, sf):
    """Heaps'-law fit of vocabulary growth over the qa85 synthetic
    30-day crawl calendar (operators/textstats.py:heaps_law_fit):
    cumulative (tokens, vocab) per day, beta = ln-ln OLS slope via the
    zipf_moments MILLI-nat trick (ln once per day on integer inputs,
    five exact moments, one terminal division) — says whether a crawl
    still grows vocabulary and sizes tokenizers before training."""
    from .operators.textstats import heaps_law_fit

    d = _t(spark, sf, "documents").select(
        "text",
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            (F.col("doc_id") % 30).cast("int"),
        ).alias("_ts"),
    )
    return heaps_law_fit(d, "text", F.col("_ts"))


@_q(
    "qb03_peak_concurrency",
    """
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT u, us,
             CASE WHEN lag(us) OVER (PARTITION BY u ORDER BY us) IS NULL
                   OR us - lag(us) OVER (PARTITION BY u ORDER BY us)
                      > 1800000000
                  THEN 1 ELSE 0 END AS nw
      FROM base),
    sess AS (SELECT u, us,
                    sum(nw) OVER (PARTITION BY u ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sid
             FROM flagged),
    bounds AS (SELECT u, sid, min(us) AS s, max(us) AS e
               FROM sess GROUP BY 1, 2),
    days AS (SELECT u, sid, s, e,
                    unnest(generate_series(s // 86400000000,
                                           e // 86400000000)) AS day
             FROM bounds),
    clamped AS (SELECT u, sid, day,
                       greatest(s, day * 86400000000) AS cs,
                       least(e, (day + 1) * 86400000000 - 1) + 1 AS ce
                FROM days),
    marks AS (
      SELECT day, cs AS t, 1 AS delta, u, sid FROM clamped
      UNION ALL
      SELECT day, ce, -1, u, sid FROM clamped),
    swept AS (
      SELECT day, t, u, sid,
             CAST(sum(delta) OVER (PARTITION BY day
                                   ORDER BY t, delta DESC, u, sid
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM marks),
    peaks AS (SELECT day, t, cum FROM (
                SELECT *, row_number() OVER (PARTITION BY day
                             ORDER BY cum DESC, t, u, sid) AS rn
                FROM swept)
              WHERE rn = 1),
    nsess AS (SELECT day, CAST(count(*) AS BIGINT) AS n_sessions
              FROM clamped GROUP BY 1)
    SELECT CAST(DATE '1970-01-01' + CAST(p.day AS INT) AS VARCHAR) AS day,
           n.n_sessions,
           CAST(p.cum AS BIGINT) AS peak_concurrent,
           CAST(p.t AS BIGINT) AS peak_at_us
    FROM peaks p JOIN nsess n ON n.day = p.day
    """,
)
def qb03(spark, sf):
    """Peak simultaneous sessions per day (operators/temporal.py:
    peak_concurrency_daily): q24 lag-gap sessions, midnight-clipped
    into each day touched, +1/−1 boundary sweep with a total-order
    running sum INSIDE the day partition (never a global sort) — the
    serving-tier capacity number, in pure integer epoch-micros."""
    from .operators.temporal import peak_concurrency_daily

    return peak_concurrency_daily(_t(spark, sf, "events"), "user_id", "ts", 1800)


@_q(
    "qb04_decile_lift",
    """
    WITH base AS (SELECT n_chars AS s,
                         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                         doc_id AS id
                  FROM documents),
    tiled AS (SELECT *, CAST(ntile(10) OVER (ORDER BY s DESC, id) AS INT)
                          AS tile
              FROM base),
    per AS (SELECT tile, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM tiled GROUP BY 1),
    st AS (SELECT tile, n, n_pos,
                  CAST(sum(n) OVER (ORDER BY tile
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum_n,
                  CAST(sum(n_pos) OVER (ORDER BY tile
                                        ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS cum_pos,
                  CAST(sum(n) OVER () AS BIGINT) AS tn,
                  CAST(sum(n_pos) OVER () AS BIGINT) AS tp
           FROM per)
    SELECT tile, n, n_pos, cum_n, cum_pos,
           CASE WHEN tp > 0
                THEN CAST(round(cum_pos * 1000000 / tp) AS BIGINT)
           END AS capture_micro,
           CASE WHEN tp > 0
                THEN CAST(round(cum_pos * tn * 1000000 / (cum_n * tp))
                          AS BIGINT)
           END AS lift_micro
    FROM st
    """,
)
def qb04(spark, sf):
    """Decile lift / cumulative-gains table of document length as an
    'is English' ranker (operators/evaluate.py:decile_lift): ntile(10)
    over the (score desc, doc_id) TOTAL order — the unique tiebreak is
    what makes tile membership engine-deterministic — with capture and
    lift each one micro-rounded division of integer products.  The
    model-quality view a curation gate quotes ('top decile captures
    X% of positives')."""
    from .operators.evaluate import decile_lift

    d = _t(spark, sf, "documents")
    return decile_lift(
        d, F.col("n_chars"), F.col("lang") == "en", "doc_id", 10
    )


def _qb05_oracle(iters: int = 3) -> str:
    head = """
    trans AS (
      SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT event_type AS t,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS f
        FROM events)
      WHERE f IS NOT NULL GROUP BY 1, 2),
    p AS (SELECT f, t,
                 CAST(sum(n) OVER (PARTITION BY f) AS BIGINT) AS ntot,
                 CAST(round(n * 1000000
                            / sum(n) OVER (PARTITION BY f)) AS BIGINT)
                   AS pp
          FROM trans),
    states AS (SELECT DISTINCT f AS state FROM p),
    kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    v0 AS (SELECT state, CAST(1000000 // kk.k AS BIGINT) AS v
           FROM states CROSS JOIN kk)"""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""
    v{i} AS (
      SELECT p.t AS state,
             CAST(CAST(sum(v{i - 1}.v * p.pp) AS BIGINT) // 1000000
                  AS BIGINT) AS v
      FROM p JOIN v{i - 1} ON v{i - 1}.state = p.f
      GROUP BY 1)"""
        )
    return (
        "\n    WITH "
        + head
        + ","
        + ",".join(rounds)
        + f"""
    , nout AS (SELECT f AS state, CAST(max(ntot) AS BIGINT) AS n_out
               FROM p GROUP BY 1)
    SELECT v.state,
           CAST(coalesce(nout.n_out, 0) AS BIGINT) AS n_out,
           v.v AS v_micro,
           CAST(round(v.v * 1000000 / sum(v.v) OVER ()) AS BIGINT)
             AS stationary_micro,
           CAST(row_number() OVER (ORDER BY v.v DESC, v.state) AS INT)
             AS rank
    FROM v{iters} v LEFT JOIN nout ON nout.state = v.state
    """
    )


@_q("qb05_markov_stationary", _qb05_oracle())
def qb05(spark, sf):
    """Approximate stationary distribution of the user-behavior Markov
    chain (operators/dialogue.py:markov_stationary, 3 unrolled power
    iterations): row-stochastic transition matrix in micro from the
    qa13 consecutive-transition counts, v·P steps as pure-int64
    broadcast joins on the dictionary-sized state table (truncating
    div, the Bradley-Terry discipline) — where traffic settles in
    steady state, the routing-capacity complement to qb03's peak."""
    from .operators.dialogue import markov_stationary

    return markov_stationary(
        _t(spark, sf, "events"), "user_id", "event_type", ("ts", "event_id"), 3
    )


@_q(
    "qb06_mixture_allocation",
    f"""
    WITH per AS (
      SELECT source,
             CAST(sum({_QA93_WORDS}) AS BIGINT) AS n_tokens,
             CAST(round(sum(n_chars) * 1000000 / count(*)) AS BIGINT)
               AS quality_micro
      FROM documents GROUP BY 1),
    staged AS (
      SELECT source, n_tokens, quality_micro,
             CAST((sum(n_tokens) OVER () * 2) // 5 AS BIGINT) AS budget,
             CAST(coalesce(sum(n_tokens) OVER (
                    ORDER BY quality_micro DESC, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_before,
             CAST(row_number() OVER (ORDER BY quality_micro DESC, source)
                  AS INT) AS fill_rank
      FROM per)
    SELECT source, n_tokens, quality_micro,
           CAST(greatest(0, least(n_tokens, budget - cum_before))
                AS BIGINT) AS alloc_tokens,
           CASE WHEN budget > 0
                THEN CAST(round(greatest(0, least(n_tokens,
                                                  budget - cum_before))
                                * 1000000 / budget) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS alloc_share_micro,
           fill_rank
    FROM staged
    """,
)
def qb06(spark, sf):
    """Training-mixture allocation: greedy quality-ordered token budget
    fill across sources (operators/mixing.py:mixture_allocation,
    budget = 40% of corpus tokens, quality = mean doc length micro as
    the pluggable demo metric) — the closed-form 'maximize quality
    under a token budget' planner as ONE cumulative-sum window over a
    total order, int64 end to end."""
    from .operators.mixing import mixture_allocation
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(words_col(F.col("text"))))
        .cast("long")
        .alias("n_tokens"),
        F.round(F.sum("n_chars") * F.lit(1_000_000) / F.count("*"))
        .cast("long")
        .alias("quality_micro"),
    )
    return mixture_allocation(per, "source", "n_tokens", "quality_micro", 2, 5)


_QB07_TERMS = ["data", "join", "scan", "slow", "vector"]


@_q(
    "qb07_ql_dirichlet",
    f"""
    WITH base AS (
      SELECT doc_id AS id,
             list_filter(string_split(lower(trim(regexp_replace(text,
               '\\s+', ' ', 'g'))), ' '), w -> w <> '') AS t
      FROM documents),
    sized AS (SELECT id, CAST(len(t) AS BIGINT) AS dl, t FROM base),
    tok AS (SELECT id, unnest(t) AS w FROM sized),
    tf AS (SELECT id, w, CAST(count(*) AS BIGINT) AS tf
           FROM tok
           WHERE w IN ({", ".join(repr(t) for t in sorted(_QB07_TERMS))})
           GROUP BY 1, 2),
    cf AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tot FROM sized),
    grid AS (
      SELECT s.id, s.dl, c.w, c.cf, tot.tot,
             CAST(coalesce(tf.tf, 0) AS BIGINT) AS tf
      FROM sized s CROSS JOIN cf c CROSS JOIN tot
      LEFT JOIN tf ON tf.id = s.id AND tf.w = c.w),
    term AS (
      SELECT id,
             CAST(round(1000000.0 *
                    ln(CAST(tf * tot + 2000 * cf AS DOUBLE)
                       / (tot * (dl + 2000)))) AS BIGINT) AS tm
      FROM grid),
    scored AS (SELECT id, CAST(sum(tm) AS BIGINT) AS score_micro
               FROM term GROUP BY 1)
    SELECT id AS doc_id, score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, id) AS INT)
             AS rank
    FROM scored ORDER BY score_micro DESC, id LIMIT 10
    """,
)
def qb07(spark, sf):
    """Dirichlet-smoothed query-likelihood top-10 (operators/
    retrieval.py:ql_dirichlet_topk, mu=2000) — the language-model
    retrieval scorer next to q82's BM25: each (doc, term) contribution
    is ln of ONE division of int64 products (denominators cleared:
    (tf*TOT + mu*cf)/(TOT*(dl+mu))), micro-rounded then integer-
    summed; all docs score (pure length smoothing at tf=0); top-k via
    orderBy+limit (TakeOrderedAndProject), never a global sort."""
    from .operators.retrieval import ql_dirichlet_topk

    return ql_dirichlet_topk(
        _t(spark, sf, "documents"), _QB07_TERMS, "text", "doc_id", 2000, 10
    )


@_q(
    "qb08_jackknife_ratio",
    """
    WITH per AS (
      SELECT strftime(ts, '%Y-%m-%d') AS b,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sd,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS nd
      FROM events GROUP BY 1),
    tot AS (SELECT b, sd, nd,
                   CAST(sum(sd) OVER () AS BIGINT) AS s,
                   CAST(sum(nd) OVER () AS BIGINT) AS n,
                   CAST(count(*) OVER () AS BIGINT) AS d
            FROM per),
    pv AS (
      SELECT d,
             CAST(round(s * 1000000 / n) AS BIGINT) AS r,
             CAST(d * CAST(round(s * 1000000 / n) AS BIGINT)
                  - (d - 1) * CAST(round((s - sd) * 1000000 / (n - nd))
                                   AS BIGINT) AS BIGINT) AS pv
      FROM tot WHERE n - nd > 0),
    shift AS (SELECT CAST(min(pv) AS BIGINT) AS p0 FROM pv),
    sh AS (SELECT d, r, p0, CAST(pv - p0 AS BIGINT) AS q
           FROM pv CROSS JOIN shift),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                   CAST(max(r) AS BIGINT) AS ratio_micro,
                   CAST(max(p0) AS BIGINT) AS p0,
                   CAST(sum(q) AS BIGINT) AS sq,
                   CAST(sum(q * q) AS BIGINT) AS sqq
            FROM sh)
    SELECT n_blocks, ratio_micro,
           CASE WHEN n_blocks >= 2
                THEN CAST(CAST(round(sq / n_blocks) AS BIGINT) + p0
                          AS BIGINT)
           END AS jk_mean_micro,
           CASE WHEN n_blocks >= 2
                THEN CAST(round(sqrt((CAST(sqq AS DOUBLE)
                                      - CAST(sq AS DOUBLE) * sq / n_blocks)
                                     / (n_blocks * (n_blocks - 1))))
                          AS BIGINT)
           END AS jk_se_micro
    FROM agg
    """,
)
def qb08(spark, sf):
    """Leave-one-day-out jackknife SE for the purchases-per-view ratio
    (operators/stats.py:jackknife_ratio) — the honest error bar for
    correlated-numerator/denominator metrics, completing the
    resampling trio (bootstrap qa88, randomization qa99).  Pseudo-
    values in exact int64 from already-rounded micro divisions,
    pivot-shift before squaring, IEEE sqrt terminal."""
    from .operators.stats import jackknife_ratio

    ev = _t(spark, sf, "events")
    return jackknife_ratio(
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.when(
                F.col("event_type") == "purchase",
                F.floor("value").cast("long"),
            )
            .otherwise(0)
            .alias("num"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("den"),
        ),
        "day",
        "num",
        "den",
    )


@_q(
    "qb09_pareto_sources",
    f"""
    WITH per AS (
      SELECT source,
             CAST(sum({_QA93_WORDS}) AS BIGINT) AS n_tokens,
             CAST(round(sum(n_chars) * 1000000 / count(*)) AS BIGINT)
               AS quality_micro,
             CAST(round(count(DISTINCT lower(trim(regexp_replace(text,
                    '\\s+', ' ', 'g')))) * 1000000 / count(*)) AS BIGINT)
               AS distinct_ratio_micro
      FROM documents GROUP BY 1),
    dom AS (
      SELECT b.source, CAST(count(*) AS BIGINT) AS n_dominators
      FROM per b JOIN per o ON o.source <> b.source
        AND o.n_tokens >= b.n_tokens
        AND o.quality_micro >= b.quality_micro
        AND o.distinct_ratio_micro >= b.distinct_ratio_micro
        AND (o.n_tokens > b.n_tokens
             OR o.quality_micro > b.quality_micro
             OR o.distinct_ratio_micro > b.distinct_ratio_micro)
      GROUP BY 1)
    SELECT p.source, p.n_tokens, p.quality_micro, p.distinct_ratio_micro,
           CAST(coalesce(d.n_dominators, 0) AS BIGINT) AS n_dominators,
           coalesce(d.n_dominators, 0) = 0 AS is_pareto
    FROM per p LEFT JOIN dom d ON d.source = p.source
    """,
)
def qb09(spark, sf):
    """Pareto-frontier (skyline) source ranking on (volume, mean-length
    quality, exact-distinct cleanliness) (operators/mixing.py:
    pareto_sources): a source off the frontier is never optimal at ANY
    metric weighting — the multi-objective pre-filter before
    qb06's budget fill.  One broadcast self-join over the
    dictionary-sized source table, pure integer comparisons."""
    from .operators.dedup import normalized_text_col
    from .operators.mixing import pareto_sources
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(words_col(F.col("text"))))
        .cast("long")
        .alias("n_tokens"),
        F.round(F.sum("n_chars") * F.lit(1_000_000) / F.count("*"))
        .cast("long")
        .alias("quality_micro"),
        F.round(
            F.countDistinct(normalized_text_col(F.col("text")))
            * F.lit(1_000_000)
            / F.count("*")
        )
        .cast("long")
        .alias("distinct_ratio_micro"),
    )
    return pareto_sources(
        per, "source", ["n_tokens", "quality_micro", "distinct_ratio_micro"]
    )


@_q(
    "qb10_diff_in_diff",
    """
    WITH ext AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                 FROM events),
    cells AS (
      SELECT (user_id % 2 = 0) AS t,
             (epoch_us(ts) * 2 < ext.lo + ext.hi) AS pre,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS s
      FROM events CROSS JOIN ext GROUP BY 1, 2),
    named AS (
      SELECT CASE WHEN t THEN 't' ELSE 'c' END
               || CASE WHEN pre THEN '_pre' ELSE '_post' END AS cell,
             n, CAST(round(s * 1000000 / n) AS BIGINT) AS m
      FROM cells),
    p AS (
      SELECT CAST(coalesce(max(CASE WHEN cell = 't_pre' THEN n END), 0)
                  AS BIGINT) AS n_treated_pre,
             CAST(coalesce(max(CASE WHEN cell = 't_post' THEN n END), 0)
                  AS BIGINT) AS n_treated_post,
             CAST(coalesce(max(CASE WHEN cell = 'c_pre' THEN n END), 0)
                  AS BIGINT) AS n_control_pre,
             CAST(coalesce(max(CASE WHEN cell = 'c_post' THEN n END), 0)
                  AS BIGINT) AS n_control_post,
             CAST(max(CASE WHEN cell = 't_pre' THEN m END) AS BIGINT)
               AS mean_t_pre_micro,
             CAST(max(CASE WHEN cell = 't_post' THEN m END) AS BIGINT)
               AS mean_t_post_micro,
             CAST(max(CASE WHEN cell = 'c_pre' THEN m END) AS BIGINT)
               AS mean_c_pre_micro,
             CAST(max(CASE WHEN cell = 'c_post' THEN m END) AS BIGINT)
               AS mean_c_post_micro
      FROM named)
    SELECT *,
           CASE WHEN mean_t_pre_micro IS NOT NULL
                 AND mean_t_post_micro IS NOT NULL
                 AND mean_c_pre_micro IS NOT NULL
                 AND mean_c_post_micro IS NOT NULL
                THEN CAST((mean_t_post_micro - mean_t_pre_micro)
                          - (mean_c_post_micro - mean_c_pre_micro)
                          AS BIGINT)
           END AS did_micro
    FROM p
    """,
)
def qb10(spark, sf):
    """Difference-in-differences point estimate (operators/temporal.py:
    diff_in_diff): treated = even user_id, split at the time-range
    midpoint; four cell means each ONE micro-rounded division, the
    estimate pure integer arithmetic on the rounded micros — the
    control-group causal audit completing CUPED (qa87) and ITS
    (qb00)."""
    from .operators.temporal import diff_in_diff

    return diff_in_diff(
        _t(spark, sf, "events"),
        "user_id",
        F.col("user_id") % 2 == 0,
        "ts",
        F.floor("value"),
    )


@_q(
    "qb11_capture_recapture",
    r"""
    WITH vals AS (
      SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS v,
             substr(md5('a|' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
               AS ina,
             substr(md5('b|' || CAST(doc_id AS VARCHAR)), 1, 1) < '8'
               AS inb
      FROM documents),
    per AS (
      SELECT v,
             CAST(max(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS ia,
             CAST(max(CASE WHEN inb THEN 1 ELSE 0 END) AS BIGINT) AS ib
      FROM vals GROUP BY 1
      HAVING max(CASE WHEN ina THEN 1 ELSE 0 END)
             + max(CASE WHEN inb THEN 1 ELSE 0 END) > 0),
    agg AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
                   CAST(sum(ib) AS BIGINT) AS n_b,
                   CAST(sum(ia * ib) AS BIGINT) AS n_both,
                   CAST(count(*) AS BIGINT) AS nu
            FROM per)
    SELECT n_a, n_b, n_both,
           CAST(CAST(round(CAST(n_a + 1 AS DOUBLE) * (n_b + 1)
                           / (n_both + 1)) AS BIGINT) - 1 AS BIGINT)
             AS chapman_est,
           CASE WHEN nu > 0
                THEN CAST(round(n_both * 1000000 / nu) AS BIGINT)
           END AS jaccard_micro
    FROM agg
    """,
)
def qb11(spark, sf):
    """Chapman capture-recapture estimate of the true distinct-content
    population from two md5-hash-split 'crawl' samples (operators/
    sketch.py:capture_recapture): N = (n_a+1)(n_b+1)/(m+1) − 1, one
    rounded division — corpus-cardinality planning from two CHEAP
    samples where KMV/HLL need a full pass."""
    from .operators.dedup import normalized_text_col
    from .operators.sketch import capture_recapture

    d = _t(spark, sf, "documents").select(
        normalized_text_col(F.col("text")).alias("v"),
        (
            F.substring(
                F.md5(F.concat(F.lit("a|"), F.col("doc_id").cast("string"))),
                1,
                1,
            )
            < "8"
        ).alias("in_a"),
        (
            F.substring(
                F.md5(F.concat(F.lit("b|"), F.col("doc_id").cast("string"))),
                1,
                1,
            )
            < "8"
        ).alias("in_b"),
    )
    return capture_recapture(d, "v", "in_a", "in_b")


def _qb12_oracle(iters: int = 3) -> str:
    # same chain head as _qb05_oracle, plus per-state entropy and the
    # pi-weighted rate
    base = _qb05_oracle(iters)
    head, _sep, _tail = base.partition("    , nout AS")
    return (
        head
        + f"""
    , nlh AS (
      SELECT f,
             CAST(sum(pp * CASE WHEN pp > 0
                    THEN CAST(round(-1000000.0 * ln(pp / 1000000.0))
                              AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS hp
      FROM p GROUP BY 1)
    SELECT v.state, v.v AS v_micro,
           CAST(round(coalesce(nlh.hp, 0) / 1000000) AS BIGINT)
             AS h_state_micro,
           CAST(round(CAST(sum(v.v * coalesce(nlh.hp, 0)) OVER ()
                           AS DOUBLE)
                      / (sum(v.v) OVER () * 1000000.0)) AS BIGINT)
             AS entropy_rate_micro
    FROM v{iters} v LEFT JOIN nlh ON nlh.f = v.state
    """
    )


@_q("qb12_markov_entropy_rate", _qb12_oracle())
def qb12(spark, sf):
    """Entropy rate of the user-behavior Markov chain (operators/
    dialogue.py:markov_entropy_rate): pi-weighted per-state transition
    entropy, -ln(p) once per CELL on the rounded micro p (qa66 idiom),
    exact int64 weighted sums, ONE terminal double division — the
    predictability number that separates bots/scripted loops (low)
    from organic traffic (high), composing qb05's stationary mass."""
    from .operators.dialogue import markov_entropy_rate

    return markov_entropy_rate(
        _t(spark, sf, "events"), "user_id", "event_type", ("ts", "event_id"), 3
    )


@_q(
    "qb13_two_proportion_ztest",
    """
    WITH base AS (SELECT user_id % 2 AS g,
                         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS x
                  FROM events),
    agg AS (
      SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT) AS x_a,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT) AS x_b
      FROM base),
    st AS (
      SELECT n_a, x_a, n_b, x_b,
             CASE WHEN n_a > 0
                  THEN CAST(round(x_a * 1000000 / n_a) AS BIGINT)
             END AS p_a_micro,
             CASE WHEN n_b > 0
                  THEN CAST(round(x_b * 1000000 / n_b) AS BIGINT)
             END AS p_b_micro,
             CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
                   AND x_a + x_b < n_a + n_b
                  THEN CAST(round(
                         sign(CAST(x_a * n_b - x_b * n_a AS DOUBLE))
                         * sqrt(CAST(x_a * n_b - x_b * n_a AS DOUBLE)
                                * (x_a * n_b - x_b * n_a) * (n_a + n_b)
                                / (CAST(n_a * n_b AS DOUBLE)
                                   * (x_a + x_b)
                                   * (n_a + n_b - x_a - x_b)))
                         * 1000000) AS BIGINT)
             END AS z_micro
      FROM agg)
    SELECT *,
           CASE WHEN z_micro IS NOT NULL
                THEN abs(z_micro) >= 1959964 END AS significant
    FROM st
    """,
)
def qb13(spark, sf):
    """Pooled two-proportion z-test of the purchase rate between even
    and odd user segments (operators/stats.py:two_proportion_ztest):
    signed integer numerator, denominators cleared, doubles entered in
    a FIXED order only where int64 would overflow, critical value
    Python-injected (no engine normal quantile) — the fixed-horizon
    decision rule completing SPRT (qa95) / DiD (qb10) / jackknife
    (qb08)."""
    from .operators.stats import two_proportion_ztest

    ev = _t(spark, sf, "events")
    return two_proportion_ztest(
        ev.select(
            (F.col("user_id") % 2).alias("seg"),
            (F.col("event_type") == "purchase").cast("long").alias("hit"),
        ),
        "seg",
        0,
        1,
        "hit",
    )


@_q(
    "qb14_mcnemar",
    """
    WITH paired AS (
      SELECT (contains(' ' || text || ' ', ' the ') = (lang = 'en'))
               AS ok_a,
             ((n_chars >= 600) = (lang = 'en')) AS ok_b
      FROM documents),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN ok_a AND ok_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both_correct,
             CAST(sum(CASE WHEN ok_a AND NOT ok_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_only_a,
             CAST(sum(CASE WHEN NOT ok_a AND ok_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_only_b,
             CAST(sum(CASE WHEN NOT ok_a AND NOT ok_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both_wrong
      FROM paired)
    SELECT n_pairs, n_both_correct, n_only_a, n_only_b, n_both_wrong,
           CASE WHEN n_only_a + n_only_b > 0 THEN
             CAST(round((n_only_a - n_only_b) * (n_only_a - n_only_b)
                        * 1000000 / (n_only_a + n_only_b)) AS BIGINT)
           END AS chi2_micro
    FROM agg
    """,
)
def qb14(spark, sf):
    """McNemar's paired test (operators/evaluate.py:mcnemar_test)
    comparing two deterministic language-ID heuristics — a stopword
    probe vs a length prior — against the document lang label on the
    SAME rows.  The paired-classifier complement to qa86's marginal
    F1: only the discordant counts carry evidence.  Exact int64
    contingency, ONE micro-rounded division."""
    from .operators.evaluate import mcnemar_test

    d = _t(spark, sf, "documents")
    paired = d.select(
        (
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")).contains(" the ")
            == (F.col("lang") == "en")
        ).alias("ok_a"),
        ((F.col("n_chars") >= 600) == (F.col("lang") == "en")).alias("ok_b"),
    )
    return mcnemar_test(paired, "ok_a", "ok_b")


@_q(
    "qb15_cochran_armitage",
    """
    WITH per_dose AS (
      SELECT event_type AS _g, user_id % 5 AS _w,
             CAST(count(*) AS BIGINT) AS _n,
             CAST(sum(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS _r
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT _g,
             CAST(count(*) AS BIGINT) AS n_doses,
             CAST(sum(_n) AS BIGINT) AS "_N",
             CAST(sum(_r) AS BIGINT) AS "_R",
             CAST(sum(_w * _r) AS BIGINT) AS swr,
             CAST(sum(_w * _n) AS BIGINT) AS swn,
             CAST(sum(_w * _w * _n) AS BIGINT) AS sw2n
      FROM per_dose GROUP BY 1)
    SELECT _g AS event_type, n_doses, "_N" AS n_total, "_R" AS n_success,
           CAST(sign("_N" * swr - "_R" * swn) AS INT) AS trend_sign,
           CASE WHEN "_R" > 0 AND "_R" < "_N"
                     AND "_N" * sw2n - swn * swn > 0 THEN
             CAST(round(
               CAST("_N" AS DOUBLE)
               * (CAST("_N" * swr - "_R" * swn AS DOUBLE)
                  * CAST("_N" * swr - "_R" * swn AS DOUBLE))
               / ((CAST("_R" AS DOUBLE) * CAST("_N" - "_R" AS DOUBLE))
                  * CAST("_N" * sw2n - swn * swn AS DOUBLE))
               * 1000000) AS BIGINT)
           END AS z2_micro
    FROM agg
    """,
)
def qb15(spark, sf):
    """Cochran–Armitage dose-response trend per event type
    (operators/stats.py:cochran_armitage_trend): does the value>=50
    hit rate drift monotonically across the five user cohorts?  The
    ordinal upgrade of qb13's two-arm z — exact integer moments over
    the dose dimension, doubles only past the int64 bound in a fixed
    mirrored op order, sign via exact integer signum."""
    from .operators.stats import cochran_armitage_trend

    ev = _t(spark, sf, "events")
    return cochran_armitage_trend(
        ev.select(
            F.col("event_type"),
            (F.col("user_id") % 5).alias("dose"),
            (F.col("value") >= 50.0).alias("hit"),
        ),
        "event_type",
        "dose",
        "hit",
    )


@_q(
    "qb16_predicate_cardinality",
    """
    WITH t AS (
      SELECT DISTINCT user_id AS _s, event_type AS _p,
             CAST(floor(value) AS BIGINT) AS _o
      FROM events),
    per_subj AS (
      SELECT _p, _s, CAST(count(*) AS BIGINT) AS _k
      FROM t GROUP BY 1, 2),
    subj_prof AS (
      SELECT _p, CAST(count(*) AS BIGINT) AS n_subj,
             CAST(sum(_k) AS BIGINT) AS n_triples,
             CAST(sum(CASE WHEN _k = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_subj_functional
      FROM per_subj GROUP BY 1),
    obj_prof AS (
      SELECT _p, CAST(count(DISTINCT _o) AS BIGINT) AS n_obj
      FROM t GROUP BY 1)
    SELECT s._p AS pred, n_triples, n_subj, n_obj, n_subj_functional,
           CAST(round(n_subj_functional * 1000000 / n_subj) AS BIGINT)
             AS functionality_micro,
           CAST(round(n_triples * 1000000 / n_subj) AS BIGINT)
             AS fanout_micro,
           CAST(round(n_triples * 1000000 / n_obj) AS BIGINT)
             AS inv_fanout_micro
    FROM subj_prof s JOIN obj_prof o ON s._p = o._p
    """,
)
def qb16(spark, sf):
    """Per-predicate cardinality/functionality audit
    (operators/kgaudit.py:predicate_cardinality) over the user-event
    triple view — the pre-canonicalization KG health check: an almost-
    functional predicate is safe to collapse, a high-fanout predicate
    is the hub signal the CC stage's hot-key routing needs
    (pipeline/canonicalize.py hot_degree_threshold)."""
    from .operators.kgaudit import predicate_cardinality

    ev = _t(spark, sf, "events")
    return predicate_cardinality(
        ev.select(
            F.col("user_id").alias("subj"),
            F.col("event_type").alias("pred"),
            F.floor("value").cast("long").alias("obj"),
        )
    )


@_q(
    "qb17_link_margins",
    f"""
    WITH {_kgf.decision_values_sql()},
    per AS (
      SELECT pattern,
             CAST(count(*) AS BIGINT) AS n_cands,
             max(CASE WHEN rank = 1 THEN class_iri END) AS top_class_iri,
             CAST(max(CASE WHEN rank = 1 THEN score_micro END) AS BIGINT)
               AS top_score_micro,
             CAST(max(CASE WHEN rank = 2 THEN score_micro END) AS BIGINT)
               AS _second_micro
      FROM dec GROUP BY 1)
    SELECT pattern, n_cands, top_class_iri, top_score_micro,
           top_score_micro - _second_micro AS margin_micro,
           coalesce(top_score_micro - _second_micro < 50000, FALSE)
             AS ambiguous
    FROM per
    """,
)
def qb17(spark, sf):
    """Linker-confidence margins (operators/kgaudit.py:link_margins)
    over the REAL rank_dictionary decision table: the rank-1/rank-2
    score gap per pattern is the auto-accept-vs-review routing signal
    (the reference's interactive per-term accept loop,
    cli/interface.py:361-366, becomes one dictionary-sized audit).
    Scores micro-rounded identically to the kg fixture's mirrored
    decision table, so the margin is an exact int64 difference."""
    from .kg_fixture import terms_df
    from .operators.kgaudit import link_margins
    from .pipeline.link_score import rank_dictionary

    return link_margins(rank_dictionary(spark, terms_df(spark), idf=None))


@_q(
    "qb18_conformal_coverage",
    """
    WITH base AS (
      SELECT CAST(n_chars AS BIGINT) AS _s,
             CAST('0x' || substr(md5('conformal' || CAST(doc_id AS VARCHAR)),
                                 1, 10) AS BIGINT) < 549755813888 AS _is_cal
      FROM documents),
    counts AS (
      SELECT CAST(sum(CASE WHEN _is_cal THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cal,
             CAST(sum(CASE WHEN _is_cal THEN 0 ELSE 1 END) AS BIGINT)
               AS n_test
      FROM base),
    k AS (
      SELECT n_cal, n_test,
             least(((n_cal + 1) * 900000 + 999999) // 1000000, n_cal)
               AS rank_k
      FROM counts),
    q AS (
      SELECT (SELECT _s FROM base WHERE _is_cal ORDER BY _s
              LIMIT 1 OFFSET (SELECT rank_k - 1 FROM k)) AS q_hat),
    cov AS (
      SELECT CAST(count(*) AS BIGINT) AS n_covered
      FROM base WHERE NOT _is_cal AND _s <= (SELECT q_hat FROM q))
    SELECT k.n_cal, k.n_test, CAST(k.rank_k AS BIGINT) AS rank_k,
           (SELECT q_hat FROM q) AS q_hat, cov.n_covered,
           CASE WHEN k.n_test > 0 THEN
             CAST(round(cov.n_covered * 1000000 / k.n_test) AS BIGINT)
           END AS coverage_micro
    FROM k, cov
    """,
)
def qb18(spark, sf):
    """Split-conformal coverage audit
    (operators/evaluate.py:conformal_split_coverage) on the document
    length score: md5-deterministic 50/50 calibration split, q_hat =
    the ceil((n+1)·0.9)-th smallest calibration score read off the
    score HISTOGRAM's cumulative counts (never a global sort — the
    oracle's ORDER BY/OFFSET form is the semantic spec, not the plan),
    then held-out coverage against the distribution-free 90% target."""
    from .operators.evaluate import conformal_split_coverage

    d = _t(spark, sf, "documents")
    return conformal_split_coverage(
        d, "n_chars", "doc_id", alpha_micro=100_000,
        cal_fraction_micro=500_000, salt="conformal",
    )


@_q(
    "qb19_mcc",
    """
    WITH agg AS (
      SELECT CAST(sum(CASE WHEN n_chars >= 600 AND lang = 'en'
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN n_chars >= 600 AND lang <> 'en'
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN n_chars < 600 AND lang = 'en'
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN n_chars < 600 AND lang <> 'en'
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM documents)
    SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0
                     AND tn + fn > 0 THEN
             CAST(round(CAST(tp * tn - fp * fn AS DOUBLE) * 1000000
                        / sqrt((CAST(tp + fp AS DOUBLE)
                                * CAST(tp + fn AS DOUBLE))
                               * (CAST(tn + fp AS DOUBLE)
                                  * CAST(tn + fn AS DOUBLE)))) AS BIGINT)
           END AS mcc_micro
    FROM agg
    """,
)
def qb19(spark, sf):
    """Matthews correlation (operators/evaluate.py:mcc_binary) of the
    length-prior language classifier — the imbalance-honest confusion
    summary next to qa86's macro-F1.  Numerator exact int64; the four
    marginals enter double-space individually before one fixed-order
    product/sqrt/divide (IEEE-identical in both engines, the qb13
    discipline)."""
    from .operators.evaluate import mcc_binary

    d = _t(spark, sf, "documents")
    return mcc_binary(
        d.select(
            (F.col("n_chars") >= 600).alias("pred"),
            (F.col("lang") == "en").alias("gold"),
        ),
        "pred",
        "gold",
    )


from .operators.multtest import (  # noqa: E402
    Z_ALPHA_05_TWOSIDED as _ZA,
    Z_BETA_080 as _ZB,
    bh_crit_rows as _bh_rows,
    holm_crit_rows as _holm_rows,
)

_Z2_SQL = """
    per AS (SELECT {g} AS _g, CAST(count(*) AS BIGINT) AS _n,
                   CAST(sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT)
                     AS _r
            FROM {tbl} GROUP BY 1),
    tot AS (SELECT CAST(sum(_n) AS BIGINT) AS _nt,
                   CAST(sum(_r) AS BIGINT) AS _rt FROM per),
    z AS (
      SELECT _g, _n, _r,
             CASE WHEN _rt > 0 AND _rt < _nt
                       AND _n > 0 AND _n < _nt THEN
               CAST(round(
                 CAST(_nt AS DOUBLE)
                 * (CAST(_nt * _r - _rt * _n AS DOUBLE)
                    * CAST(_nt * _r - _rt * _n AS DOUBLE))
                 / ((CAST(_rt AS DOUBLE) * CAST(_nt - _rt AS DOUBLE))
                    * (CAST(_n AS DOUBLE) * CAST(_nt - _n AS DOUBLE)))
                 * 1000000) AS BIGINT)
             END AS z2
      FROM per, tot),
    ranked AS (
      SELECT _g, z2,
             CAST(row_number() OVER (ORDER BY z2 DESC NULLS LAST, _g)
                  AS INT) AS rank,
             CAST(count(*) OVER () AS INT) AS _m
      FROM z)
"""


def _qb20_oracle() -> str:
    crit = ",\n      ".join(f"({d}, {c})" for d, c in _holm_rows())
    base = _Z2_SQL.format(
        g="event_type", hit="value >= 50.0", tbl="events"
    )
    return f"""
    WITH {base},
    crit(d, crit2_micro) AS (VALUES
      {crit}),
    j AS (
      SELECT _g, z2, rank, CAST(crit2_micro AS BIGINT) AS crit2_micro,
             CASE WHEN z2 IS NOT NULL AND z2 >= crit2_micro
                  THEN 1 ELSE 0 END AS _p
      FROM ranked JOIN crit ON crit.d = _m - rank + 1)
    SELECT _g AS event_type, z2 AS z2_micro, rank, crit2_micro,
           min(_p) OVER (ORDER BY rank
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             = 1 AS reject
    FROM j
    """


@_q("qb20_holm_fwer", _qb20_oracle())
def qb20(spark, sf):
    """Holm step-down FWER correction (operators/multtest.py) over the
    per-event-type one-vs-rest z² family (operators/stats.py:
    one_vs_rest_ztests): walk strongest-first, stop at the first
    failure.  Critical values are Python-injected NormalDist constants
    (qa89 technique) — neither engine evaluates a quantile; the
    comparisons are pure int64."""
    from .operators.multtest import holm_rejections
    from .operators.stats import one_vs_rest_ztests

    ev = _t(spark, sf, "events")
    tests = one_vs_rest_ztests(
        ev.select("event_type", (F.col("value") >= 50.0).alias("hit")),
        "event_type",
        "hit",
    )
    return holm_rejections(tests, "event_type")


@_q(
    "qb21_jsd_drift",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS w
      FROM documents),
    gw AS (SELECT source AS g, w, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM gw GROUP BY 1),
    gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS tg FROM gw GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM gw),
    term AS (
      SELECT gw.g, gw.c, wt.cw, gt.tg, (SELECT t FROM tot) AS t,
             CAST(round(ln(CAST(2 * gw.c * (SELECT t FROM tot) AS DOUBLE)
                           / CAST(gw.c * (SELECT t FROM tot)
                                  + wt.cw * gt.tg AS DOUBLE)) * 1e6)
                  AS BIGINT) AS l1,
             CAST(round(ln(CAST(2 * wt.cw * gt.tg AS DOUBLE)
                           / CAST(gw.c * (SELECT t FROM tot)
                                  + wt.cw * gt.tg AS DOUBLE)) * 1e6)
                  AS BIGINT) AS l2
      FROM gw JOIN wt USING (w) JOIN gt USING (g)),
    per AS (
      SELECT g, max(tg) AS tg, max(t) AS t,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * l1) AS BIGINT) AS sa,
             CAST(sum(cw * l2) AS BIGINT) AS sb,
             CAST(sum(cw) AS BIGINT) AS ccov
      FROM term GROUP BY 1)
    SELECT g AS source, tg AS n_tokens, n_types,
           CAST(round(CAST(sa AS DOUBLE) / CAST(2 * tg AS DOUBLE)
                      + CAST(sb + 693147 * (t - ccov) AS DOUBLE)
                        / CAST(2 * t AS DOUBLE)) AS BIGINT) AS jsd_micro
    FROM per
    """,
)
def qb21(spark, sf):
    """Per-source Jensen-Shannon drift from the corpus token
    distribution (operators/stats.py:jsd_from_reference) — bounded,
    symmetric, and defined when a source lacks corpus tokens (absent
    mass folds into one closed-form ln2 term; qa29's KL is its
    unbounded sibling).  ln once per distinct (source, token) row,
    integer weighted sums, one fixed-order terminal combine."""
    from .operators.stats import jsd_from_reference
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    tok = d.select("source", F.explode(words_col(F.col("text"))).alias("w"))
    return jsd_from_reference(tok, "source", "w")


def _qb22_oracle() -> str:
    base = _Z2_SQL.format(
        g="event_type", hit="value >= 50.0", tbl="events"
    )
    # reuse only per/tot from the template
    base = base.split(",\n    z AS")[0]
    return f"""
    WITH {base},
    s AS (
      SELECT _g, _n, _r, _nt, _rt,
             CAST(_r AS DOUBLE) / CAST(_n AS DOUBLE) AS p1,
             CAST(_rt - _r AS DOUBLE) / CAST(_nt - _n AS DOUBLE) AS p2
      FROM per, tot)
    SELECT _g AS event_type, _n AS n, _r AS n_hits,
           CAST(round(p1 * 1000000) AS BIGINT) AS p1_micro,
           CAST(round(p2 * 1000000) AS BIGINT) AS p2_micro,
           CASE WHEN NOT (_r * (_nt - _n) = (_rt - _r) * _n)
                     AND _n > 0 AND _nt > _n THEN
             CAST(ceil(
               (({_ZA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                                * (1.0 - (p1 + p2) / 2.0))
                 + {_ZB!r} * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
                * ({_ZA!r} * sqrt(2.0 * ((p1 + p2) / 2.0)
                                  * (1.0 - (p1 + p2) / 2.0))
                   + {_ZB!r} * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))))
               / ((p1 - p2) * (p1 - p2))) AS BIGINT)
           END AS n_required
    FROM s
    """


@_q("qb22_power_analysis", _qb22_oracle())
def qb22(spark, sf):
    """Prospective two-proportion power analysis per event type
    (operators/multtest.py:required_n_two_proportions): the per-arm n
    needed to detect each type's observed vs-rest rate difference at
    alpha=0.05 / power=0.8.  z constants are injected full-precision
    decimal literals (same parse → same IEEE double in both engines);
    the degenerate equal-rates case is detected in exact integers."""
    from .operators.multtest import required_n_two_proportions

    ev = _t(spark, sf, "events")
    return required_n_two_proportions(
        ev.select("event_type", (F.col("value") >= 50.0).alias("hit")),
        "event_type",
        "hit",
    )


def _qb23_oracle() -> str:
    crit = ",\n      ".join(f"({m}, {k}, {c})" for m, k, c in _bh_rows())
    base = _Z2_SQL.format(g="source", hit="lang = 'en'", tbl="documents")
    return f"""
    WITH {base},
    crit(m, k, crit2_micro) AS (VALUES
      {crit}),
    j AS (
      SELECT _g, z2, rank, CAST(crit2_micro AS BIGINT) AS crit2_micro,
             CASE WHEN z2 IS NOT NULL AND z2 >= crit2_micro
                  THEN 1 ELSE 0 END AS _p
      FROM ranked JOIN crit ON crit.m = _m AND crit.k = rank)
    SELECT _g AS source, z2 AS z2_micro, rank, crit2_micro,
           max(_p) OVER (ORDER BY rank DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             = 1 AS reject
    FROM j
    """


@_q("qb23_bh_fdr", _qb23_oracle())
def qb23(spark, sf):
    """Benjamini-Hochberg step-up FDR correction (operators/multtest.py)
    over the per-source lang-rate z² family: reject ranks 1..k* where
    k* is the largest rank passing alpha·k/m — a running OR from the
    weakest rank upward.  Same injected-crit² discipline as qb20."""
    from .operators.multtest import bh_rejections
    from .operators.stats import one_vs_rest_ztests

    d = _t(spark, sf, "documents")
    tests = one_vs_rest_ztests(
        d.select("source", (F.col("lang") == "en").alias("hit")),
        "source",
        "hit",
    )
    return bh_rejections(tests, "source")


@_q(
    "qb24_shrunk_rates",
    """
    WITH per AS (
      SELECT source AS _g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
      FROM documents GROUP BY 1),
    tot AS (
      SELECT CAST(round(sum(n_hits) * 1000000 / sum(n)) AS BIGINT)
               AS pool_micro
      FROM per),
    s AS (
      SELECT _g, n, n_hits,
             CAST(round(n_hits * 1000000 / n) AS BIGINT) AS raw_micro,
             CAST(round((n_hits * 1000000 + 100 * pool_micro) / (n + 100))
                  AS BIGINT) AS shrunk_micro
      FROM per, tot)
    SELECT _g AS source, n, n_hits, raw_micro, shrunk_micro,
           CAST(row_number() OVER (ORDER BY shrunk_micro DESC, _g) AS INT)
             AS rank
    FROM s
    """,
)
def qb24(spark, sf):
    """Empirical-Bayes shrunk per-source quality rates
    (operators/stats.py:shrunk_rates, Beta-Binomial with fixed prior
    strength 100): the winner's-curse guard for source leaderboards —
    small-n sources shrink toward the pooled rate before ranking.
    Pooled rate micro-rounds ONCE and re-enters as an integer, so the
    posterior is exact int64 + one division."""
    from .operators.stats import shrunk_rates

    d = _t(spark, sf, "documents")
    return shrunk_rates(
        d.select("source", (F.col("lang") == "en").alias("hit")),
        "source",
        "hit",
        prior_strength=100,
    )


@_q(
    "qb25_changepoint",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    staged AS (
      SELECT d,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
             CAST(sum(y) OVER (ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS s,
             CAST(count(*) OVER () AS BIGINT) AS "_D",
             CAST(sum(y) OVER () AS BIGINT) AS "_S"
      FROM daily),
    scored AS (
      SELECT d, i, s, "_D", "_S",
             CAST(round((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(i AS DOUBLE)
                         + CAST("_S" - s AS DOUBLE)
                           * CAST("_S" - s AS DOUBLE)
                           / CAST("_D" - i AS DOUBLE)
                         - CAST("_S" AS DOUBLE) * CAST("_S" AS DOUBLE)
                           / CAST("_D" AS DOUBLE)) * 1000000) AS BIGINT)
               AS gain_micro
      FROM staged WHERE i < "_D"),
    best AS (
      SELECT * FROM scored ORDER BY gain_micro DESC, d LIMIT 1)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INT) AS VARCHAR)
             AS split_day,
           i AS n_days_left, "_D" - i AS n_days_right,
           CAST(round(s * 1000000 / i) AS BIGINT) AS mean_left_micro,
           CAST(round(("_S" - s) * 1000000 / ("_D" - i)) AS BIGINT)
             AS mean_right_micro,
           gain_micro
    FROM best
    """,
)
def qb25(spark, sf):
    """Single-changepoint detection on the daily event-count series by
    binary segmentation (operators/temporal.py:changepoint_binary_seg):
    the split maximizing between-segment SSE gain — finds WHEN the
    volume shifted, completing qb00's known-breakpoint ITS and the
    forward-streaming CUSUM monitors.  Prefix sums over the day spine,
    fixed-order double gain, TakeOrdered argmax."""
    from .operators.temporal import changepoint_binary_seg

    ev = _t(spark, sf, "events")
    return changepoint_binary_seg(ev, "ts")


def _qb26_oracle() -> str:
    from math import log, pi, sqrt

    c1 = sqrt(6.0) / pi
    g = 0.5772156649015329
    ct = -log(-log(1.0 - 1.0 / 30.0))
    return f"""
    WITH daily AS (
      SELECT event_type AS g, epoch_us(ts) // 86400000000 AS d,
             max(CAST(floor(value * 1000) AS BIGINT)) AS m
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(m) AS BIGINT) AS max_milli,
             CAST(sum(m) AS BIGINT) AS s1,
             CAST(sum(m * m) AS BIGINT) AS s2
      FROM daily GROUP BY 1),
    fit AS (
      SELECT g, n_days, max_milli,
             CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean,
             CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS var_num,
             sqrt((CAST(n_days AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n_days AS DOUBLE)
                     * (CAST(n_days AS DOUBLE) - 1.0))) * {c1!r} AS beta
      FROM agg)
    SELECT g AS event_type, n_days, max_milli,
           CAST(round(mean) AS BIGINT) AS mean_milli,
           CASE WHEN n_days >= 2 AND var_num > 0
                THEN CAST(round(beta) AS BIGINT) END AS beta_milli,
           CASE WHEN n_days >= 2 AND var_num > 0
                THEN CAST(round(mean - {g!r} * beta) AS BIGINT)
           END AS loc_milli,
           CASE WHEN n_days >= 2 AND var_num > 0
                THEN CAST(round((mean - {g!r} * beta) + beta * {ct!r})
                          AS BIGINT)
           END AS return_level_milli
    FROM fit
    """


@_q("qb26_gumbel_extremes", _qb26_oracle())
def qb26(spark, sf):
    """Gumbel extreme-value fit of the per-type daily value maxima
    (operators/stats.py:gumbel_return_levels): method-of-moments on
    exact milli-int sums, MoM constants (sqrt6/π, Euler γ, the 30-day
    return quantile) Python-injected in both engines, one fixed-order
    double fit — the principled "peak to expect once a month" next to
    qb03's historical peak."""
    from .operators.stats import gumbel_return_levels

    ev = _t(spark, sf, "events")
    return gumbel_return_levels(
        ev, "event_type", "ts", "value", return_period_days=30
    )


@_q(
    "qb27_entity_turnover",
    """
    WITH de AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id AS e
      FROM events),
    sizes AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM de GROUP BY 1),
    common AS (
      SELECT b.d AS d, CAST(count(*) AS BIGINT) AS n_common
      FROM de a JOIN de b ON a.e = b.e AND b.d = a.d + 1
      GROUP BY 1),
    joined AS (
      SELECT c.d, p.n AS n_prev, c.n AS n_cur,
             coalesce(m.n_common, 0) AS n_common
      FROM sizes c
      JOIN sizes p ON p.d = c.d - 1
      LEFT JOIN common m ON m.d = c.d)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INT) AS VARCHAR) AS day,
           n_prev, n_cur, n_common,
           CAST(round(n_common * 1000000
                      / (n_prev + n_cur - n_common)) AS BIGINT)
             AS jaccard_micro,
           CAST(round((n_cur - n_common) * 1000000 / n_cur) AS BIGINT)
             AS new_micro
    FROM joined
    """,
)
def qb27(spark, sf):
    """Day-over-day active-user turnover
    (operators/temporal.py:vocabulary_turnover): consecutive-day
    Jaccard + new-share of the distinct entity sets — the local-churn
    KG-freshness meter next to qa85's first-ever novelty curve.  One
    distinct aggregate, one day+1 self-join keyed by entity."""
    from .operators.temporal import vocabulary_turnover

    ev = _t(spark, sf, "events")
    return vocabulary_turnover(ev, "ts", "user_id")


@_q(
    "qb28_item_cooccurrence",
    """
    WITH ui AS (SELECT DISTINCT user_id AS u, event_type AS i FROM events),
    deg AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM ui GROUP BY 1),
    pairs AS (
      SELECT a.i AS item_a, b.i AS item_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
      GROUP BY 1, 2)
    SELECT item_a, item_b, da.n AS n_a, db.n AS n_b, n_common,
           CAST(round(CAST(n_common AS DOUBLE) * 1000000
                      / sqrt(CAST(da.n * db.n AS DOUBLE))) AS BIGINT)
             AS cosine_micro
    FROM pairs
    JOIN deg da ON da.i = item_a
    JOIN deg db ON db.i = item_b
    WHERE n_common >= 1
    """,
)
def qb28(spark, sf):
    """Item-item co-engagement projection of the user-event bipartite
    set (operators/graph.py:bipartite_cooccurrence): per unordered
    event-type pair, common-user count + cosine strength — the
    engagement analogue of the text co-mention edges
    (pipeline/comention.py), bounded per user by the item dimension."""
    from .operators.graph import bipartite_cooccurrence

    ev = _t(spark, sf, "events")
    return bipartite_cooccurrence(ev, "user_id", "event_type")


@_q(
    "qb29_aba_motifs",
    """
    WITH seq AS (
      SELECT user_id AS u, event_type AS t0,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t0 AS type_a, t1 AS type_b,
           CAST(count(*) AS BIGINT) AS n_motifs,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users
    FROM seq
    WHERE t2 IS NOT NULL AND t0 = t2 AND t0 <> t1
    GROUP BY 1, 2
    """,
)
def qb29(spark, sf):
    """A→B→A temporal motif counts per user stream
    (operators/temporal.py:aba_motifs): the smallest nontrivial
    interaction motif (retry/oscillation patterns), the sequence-level
    complement of qa13's one-step transition matrix.  Partitioned
    window with a (ts, event_id) total order; two leads, one count."""
    from .operators.temporal import aba_motifs

    ev = _t(spark, sf, "events")
    return aba_motifs(ev, "user_id", "event_type", "ts", "event_id")


@_q(
    "qb30_interarrival_burstiness",
    """
    WITH gaps AS (
      SELECT event_type AS g,
             epoch_us(ts) - lag(epoch_us(ts), 1) OVER
               (PARTITION BY user_id, event_type
                ORDER BY ts, event_id) AS gap
      FROM events),
    capped AS (
      SELECT g, gap,
             least((gap - gap % 1000000) // 1000000, 86400) AS gs
      FROM gaps WHERE gap IS NOT NULL),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS su,
             CAST(sum(gs) AS BIGINT) AS s1,
             CAST(sum(gs * gs) AS BIGINT) AS s2
      FROM capped GROUP BY 1),
    fit AS (
      SELECT g, n_gaps, su,
             CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
             sqrt((CAST(n_gaps AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)))
               AS sd
      FROM agg)
    SELECT g AS event_type, n_gaps,
           CAST(round(CAST(su AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                AS BIGINT) AS mean_gap_us,
           CASE WHEN n_gaps >= 2 AND sd + mean > 0 THEN
             CAST(round((sd - mean) * 1000000 / (sd + mean)) AS BIGINT)
           END AS burstiness_micro
    FROM fit
    """,
)
def qb30(spark, sf):
    """Goh-Barabási burstiness of per-(user, type) inter-arrival gaps,
    rolled up per event type (operators/temporal.py:
    interarrival_burstiness): B=(σ−μ)/(σ+μ) on day-capped whole-second
    gaps (µs squares would overflow int64), mean gap on exact µs sums
    — the rhythm profile behind qb03's peaks."""
    from .operators.temporal import interarrival_burstiness

    ev = _t(spark, sf, "events")
    return interarrival_burstiness(
        ev, ["user_id", "event_type"], "event_type", "ts", "event_id"
    )


@_q(
    "qb31_stratified_ate",
    """
    WITH per AS (
      SELECT event_type AS s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN user_id % 2 = 0 AND value >= 50.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS y1,
             CAST(sum(CASE WHEN user_id % 2 <> 0 AND value >= 50.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS y0
      FROM events GROUP BY 1),
    staged AS (
      SELECT n, n1, n - n1 AS n0, y1, y0,
             (n1 > 0 AND n - n1 > 0) AS ok,
             CASE WHEN n1 > 0 AND n - n1 > 0 THEN
               (CAST(round(y1 * 1000000 / n1) AS BIGINT)
                - CAST(round(y0 * 1000000 / (n - n1)) AS BIGINT)) * n
             END AS contrib
      FROM per),
    agg AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_strata_used,
             CAST(sum(CASE WHEN ok THEN n ELSE 0 END) AS BIGINT) AS n_used,
             CAST(sum(contrib) AS BIGINT) AS wsum,
             CAST(sum(n1) AS BIGINT) AS tn1,
             CAST(sum(n0) AS BIGINT) AS tn0,
             CAST(sum(y1) AS BIGINT) AS ty1,
             CAST(sum(y0) AS BIGINT) AS ty0
      FROM staged)
    SELECT n, n_strata, n_strata_used,
           CASE WHEN tn1 > 0 AND tn0 > 0 THEN
             CAST(round(ty1 * 1000000 / tn1) AS BIGINT)
             - CAST(round(ty0 * 1000000 / tn0) AS BIGINT)
           END AS naive_ate_micro,
           CASE WHEN n_used > 0 THEN
             CAST(round(wsum / n_used) AS BIGINT)
           END AS adjusted_ate_micro
    FROM agg
    """,
)
def qb31(spark, sf):
    """Stratification-adjusted treatment effect
    (operators/stats.py:stratified_ate): even-vs-odd user cohorts'
    value>=50 rate, stratified by event type — the Simpson's-paradox
    guard completing the causal trio (qb10 DiD, qa87 CUPED).
    Per-stratum rates micro-round once; the adjusted ATE is an exact
    integer weighted sum with one terminal division."""
    from .operators.stats import stratified_ate

    ev = _t(spark, sf, "events")
    return stratified_ate(
        ev.select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("treated"),
            (F.col("value") >= 50.0).alias("hit"),
        ),
        "event_type",
        "treated",
        "hit",
    )


@_q(
    "qb32_lorenz_curve",
    """
    WITH per_unit AS (
      SELECT user_id AS u, CAST(count(*) AS BIGINT) AS wt
      FROM events GROUP BY 1),
    tiled AS (
      SELECT wt, ntile(10) OVER (ORDER BY wt ASC, u ASC) AS tile
      FROM per_unit),
    per AS (
      SELECT CAST(tile AS INT) AS tile,
             CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(wt) AS BIGINT) AS tile_weight
      FROM tiled GROUP BY 1)
    SELECT tile, n_units, tile_weight,
           CAST(sum(tile_weight) OVER (ORDER BY tile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_weight,
           CAST(round(sum(n_units) OVER (ORDER BY tile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1000000 / sum(n_units) OVER ()) AS BIGINT)
             AS cum_units_micro,
           CAST(round(sum(tile_weight) OVER (ORDER BY tile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1000000 / sum(tile_weight) OVER ()) AS BIGINT)
             AS cum_weight_micro
    FROM per
    """,
)
def qb32(spark, sf):
    """Lorenz concentration table of per-user event activity
    (operators/stats.py:lorenz_deciles) — the curve behind qa09's Gini
    number.  The oracle's global ntile is the semantic spec; the
    engine computes the SAME tiles from the weight histogram's
    cumulative counts (the qb04 discipline — never a row-level global
    window)."""
    from .operators.stats import lorenz_deciles

    ev = _t(spark, sf, "events")
    return lorenz_deciles(ev, "user_id", F.lit(1), n_tiles=10)


@_q(
    "qb33_keyword_logodds",
    r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS w
      FROM documents),
    gw AS (SELECT source AS g, w, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM gw GROUP BY 1),
    gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM gw GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM gw),
    scored AS (
      SELECT gw.g, gw.w, gw.c AS n_in_group, wt.cw AS n_corpus,
             CAST(round(
               (ln(CAST(gw.c * 1000000 + wt.cw * 10000 AS DOUBLE)
                   / CAST(gt.ng * 1000000 + nt * 10000
                          - gw.c * 1000000 - wt.cw * 10000 AS DOUBLE))
                - ln(CAST(wt.cw * 1000000 - gw.c * 1000000
                          + wt.cw * 10000 AS DOUBLE)
                     / CAST(nt * 1000000 - gt.ng * 1000000 + nt * 10000
                            - wt.cw * 1000000 + gw.c * 1000000
                            - wt.cw * 10000 AS DOUBLE)))
               / sqrt(1000000.0
                        / CAST(gw.c * 1000000 + wt.cw * 10000 AS DOUBLE)
                      + 1000000.0
                        / CAST(wt.cw * 1000000 - gw.c * 1000000
                               + wt.cw * 10000 AS DOUBLE))
               * 1000000) AS BIGINT) AS z_micro
      FROM gw JOIN wt USING (w) JOIN gt USING (g), tot),
    ranked AS (
      SELECT g, w, n_in_group, n_corpus, z_micro,
             CAST(row_number() OVER (PARTITION BY g
                    ORDER BY z_micro DESC, w) AS INT) AS rank
      FROM scored)
    SELECT g AS source, w, n_in_group, n_corpus, z_micro, rank
    FROM ranked WHERE rank <= 10
    """,
)
def qb33(spark, sf):
    """Per-source characteristic keywords by informative-Dirichlet
    log-odds z (operators/stats.py:keyword_logodds, Monroe/Colaresi/
    Quinn 2008) — the contrast view tf-idf gets wrong for frequent
    words.  Prior = 1% of corpus counts, carried in exact micro-int
    numerators; ln/sqrt evaluated once per (source, token) row in one
    fixed order; per-source top-10 by partitioned rank."""
    from .operators.stats import keyword_logodds
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    tok = d.select("source", F.explode(words_col(F.col("text"))).alias("w"))
    return keyword_logodds(
        tok, "source", "w", alpha_scale_micro=10_000, top_k=10
    )


@_q(
    "qb34_marginal_coverage",
    r"""
    WITH grams AS (
      SELECT DISTINCT source AS s, w || ' ' || lead_w AS g
      FROM (SELECT source, w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w
            FROM (SELECT doc_id, source,
                         unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w,
                         generate_subscripts(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),1) AS idx
                  FROM documents))
      WHERE lead_w IS NOT NULL),
    sizes AS (SELECT source AS s, CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY 1),
    ord AS (
      SELECT s, n_docs,
             CAST(row_number() OVER (ORDER BY n_docs DESC, s) AS INT)
               AS order_idx
      FROM sizes),
    firsts AS (
      SELECT g.g, min(o.order_idx) AS f
      FROM grams g JOIN ord o ON o.s = g.s GROUP BY 1),
    new_counts AS (
      SELECT f AS order_idx, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1),
    in_source AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_shingles
      FROM grams GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM firsts)
    SELECT o.order_idx, o.s AS source, o.n_docs, i.n_shingles,
           coalesce(n.n_new, 0) AS n_new,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY o.order_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_new,
           CAST(round(coalesce(n.n_new, 0) * 1000000
                      / (SELECT t FROM tot)) AS BIGINT) AS marginal_micro
    FROM ord o
    JOIN in_source i ON i.s = o.s
    LEFT JOIN new_counts n ON n.order_idx = o.order_idx
    """,
)
def qb34(spark, sf):
    """Greedy marginal bigram-vocabulary coverage per source
    (operators/textstats.py:marginal_coverage): sources in fixed
    size order, each credited with the distinct shingles it adds
    beyond everything before it — the sequential mixture-design view
    next to qa45's pairwise containment.  One min-agg over the
    inverted index; the rollup window runs on the source spine."""
    from .operators.textstats import marginal_coverage

    d = _t(spark, sf, "documents")
    return marginal_coverage(d, "text", "source", shingle_n=2)


@_q(
    "qb35_tokenizer_fertility",
    r"""
    WITH per AS (
      SELECT lang AS g,
             CAST(len(list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '')) AS BIGINT) AS nw,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
                  AS BIGINT) AS ntok,
             CAST(length(text) AS BIGINT) AS nc
      FROM documents),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(ntok) AS BIGINT) AS n_tokens,
             CAST(sum(nc) AS BIGINT) AS n_chars
      FROM per GROUP BY 1)
    SELECT g AS lang, n_docs, n_words, n_tokens, n_chars,
           CASE WHEN n_words > 0 THEN
             CAST(round(n_tokens * 1000000 / n_words) AS BIGINT)
           END AS fertility_micro,
           CASE WHEN n_tokens > 0 THEN
             CAST(round(n_chars * 1000000 / n_tokens) AS BIGINT)
           END AS chars_per_token_micro
    FROM agg
    """,
)
def qb35(spark, sf):
    """Per-language tokenizer fertility
    (operators/textstats.py:tokenizer_fertility): tokens/word and
    chars/token under the BPE-ish token regex — the multilingual
    training-cost audit (high fertility = context-window penalty).
    One scan, int64 sums, two single micro divisions."""
    from .operators.textstats import tokenizer_fertility

    d = _t(spark, sf, "documents")
    return tokenizer_fertility(d, "text", "lang")


@_q(
    "qb36_dedup_composition",
    """
    WITH reps AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),
    before AS (
      SELECT source AS d, CAST(count(*) AS BIGINT) AS n_before
      FROM documents GROUP BY 1),
    after AS (
      SELECT doc.source AS d, CAST(count(*) AS BIGINT) AS n_after
      FROM documents doc JOIN reps USING (doc_id) GROUP BY 1),
    tb AS (SELECT CAST(sum(n_before) AS BIGINT) AS t FROM before),
    ta AS (SELECT CAST(sum(n_after) AS BIGINT) AS t FROM after),
    joined AS (
      SELECT b.d, b.n_before, coalesce(a.n_after, 0) AS n_after
      FROM before b LEFT JOIN after a ON a.d = b.d)
    SELECT d AS source, n_before, n_after,
           CAST(round(n_after * 1000000 / n_before) AS BIGINT)
             AS kept_micro,
           CAST(round(n_before * 1000000 / (SELECT t FROM tb)) AS BIGINT)
             AS share_before_micro,
           CAST(round(n_after * 1000000 / (SELECT t FROM ta)) AS BIGINT)
             AS share_after_micro,
           CAST(round(n_after * 1000000 / (SELECT t FROM ta)) AS BIGINT)
             - CAST(round(n_before * 1000000 / (SELECT t FROM tb))
                    AS BIGINT) AS shift_micro
    FROM joined
    """,
)
def qb36(spark, sf):
    """Survivorship audit of exact dedup per source
    (operators/dedup.py:dedup_composition_shift): corpus shares before
    vs after the normalized-content dedup and the shift — dedup is
    never composition-neutral, and a mixture designed on pre-dedup
    shares silently re-weights after it."""
    from .operators.dedup import dedup_composition_shift

    d = _t(spark, sf, "documents")
    return dedup_composition_shift(d, "text", "doc_id", "source")


@_q(
    "qb37_del1_neardup",
    r"""
    WITH base AS (
      SELECT doc_id AS id,
             list_filter(
               string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),
               w -> w <> '') AS l
      FROM documents),
    sized AS (
      SELECT id, l, CAST(len(l) AS BIGINT) AS n
      FROM base WHERE len(l) BETWEEN 1 AND 64),
    em AS (
      SELECT DISTINCT id, n,
             CASE WHEN i = 0 THEN array_to_string(l, ' ')
                  ELSE array_to_string(
                         list_concat(l[1:i-1], l[i+1:CAST(n AS INT)]), ' ')
             END AS v
      FROM (SELECT id, l, n, unnest(generate_series(0, CAST(n AS INT)))
                     AS i
            FROM sized))
    SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
           CAST(count(*) AS BIGINT) AS n_shared_variants
    FROM em a JOIN em b ON a.v = b.v AND a.id < b.id
    GROUP BY 1, 2, 3, 4
    """,
)
def qb37(spark, sf):
    """SymSpell-style word-level deletion-neighborhood near-dup pairs
    (operators/dedup.py:deletion_neighborhood_pairs): docs pairing iff
    their token sequences are equal after deleting <= 1 token from each
    side — exact by construction (the join key is the variant STRING),
    catching the one-slot template edits LSH needs many bands to see.
    Size-gated at 64 tokens (documented boundary; long docs belong to
    the MinHash family)."""
    from .operators.dedup import deletion_neighborhood_pairs

    d = _t(spark, sf, "documents")
    return deletion_neighborhood_pairs(d, "text", "doc_id", max_tokens=64)


@_q(
    "qb38_padding_waste",
    r"""
    WITH per AS (
      SELECT CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
                  AS BIGINT) AS n
      FROM documents),
    b AS (
      SELECT CAST(CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                       WHEN n <= 256 THEN 256 ELSE 512 END AS BIGINT)
               AS bucket, n
      FROM per),
    p AS (
      SELECT bucket,
             least(n, bucket) AS r_tok,
             bucket - least(n, bucket) AS p_tok,
             greatest(n - bucket, 0) AS t_tok
      FROM b),
    agg AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(r_tok) AS BIGINT) AS real_tokens,
             CAST(sum(p_tok) AS BIGINT) AS pad_tokens,
             CAST(sum(t_tok) AS BIGINT) AS trunc_tokens
      FROM p GROUP BY 1)
    SELECT bucket, n_docs, real_tokens, pad_tokens, trunc_tokens,
           CAST(round(pad_tokens * 1000000 / (n_docs * bucket)) AS BIGINT)
             AS waste_micro
    FROM agg
    """,
)
def qb38(spark, sf):
    """Length-bucketed padding-waste audit
    (operators/chunking.py:padding_waste): each doc goes to the smallest
    bucket that fits its BPE-ish token count (overflow to the largest,
    truncated); per bucket the real/pad/trunc token volumes and the
    waste ratio — the audit that prices batch-bucket boundaries before
    a training run.  One scan, one groupBy, int64 sums, one micro
    division per bucket row."""
    from .operators.chunking import padding_waste

    d = _t(spark, sf, "documents")
    return padding_waste(d, "text", buckets=(64, 128, 256, 512))


@_q(
    "qb39_ohlc_bars",
    """
    WITH base AS (
      SELECT event_type AS g, strftime(ts, '%Y-%m-%d %H') AS bar,
             epoch_us(ts) AS us, event_id AS id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events),
    ord AS (
      SELECT g, bar, c,
             row_number() OVER (PARTITION BY g, bar ORDER BY us, id)
               AS rn_a,
             row_number() OVER (PARTITION BY g, bar ORDER BY us DESC,
                                id DESC) AS rn_d
      FROM base)
    SELECT g AS event_type, bar,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn_a = 1 THEN c END) AS BIGINT)
             AS open_cents,
           CAST(max(c) AS BIGINT) AS high_cents,
           CAST(min(c) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_d = 1 THEN c END) AS BIGINT)
             AS close_cents,
           CAST(sum(c) AS BIGINT) AS volume_cents
    FROM ord GROUP BY 1, 2
    """,
)
def qb39(spark, sf):
    """Hourly OHLC (candlestick) bars per event type
    (operators/temporal.py:ohlc_bars): open/high/low/close/volume per
    (type, hour) — the standard stream-downsampling aggregate.  ONE
    shuffle (groupBy with min_by/max_by under the total order (ts, id)),
    no windows, no self-join; values fixed to integer cents per row so
    every sum is int64 and order-independent."""
    from .operators.temporal import ohlc_bars

    e = _t(spark, sf, "events")
    return ohlc_bars(e, "ts", "value", "event_type", "event_id")


@_q(
    "qb40_last_touch",
    """
    WITH base AS (
      SELECT epoch_us(ts) AS us, user_id, event_type, event_id AS id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    carried AS (
      SELECT us, event_type, cents,
             last_value(CASE WHEN event_type IN ('click','view','signup')
                             THEN struct_pack(us := us, t := event_type)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch
      FROM base)
    SELECT CASE WHEN touch IS NOT NULL
                 AND us - touch.us <= 86400000000
                THEN touch.t ELSE 'none' END AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def qb40(spark, sf):
    """Last-touch conversion attribution
    (operators/temporal.py:last_touch_attribution): each purchase is
    credited to the most recent preceding click/view/signup by the same
    user within 24 h; no-touch conversions land in the reported 'none'
    bucket.  One partitioned carry window (last ignorenulls over the
    total order (ts, id)), single shuffle on user — linear at 100 TB
    where a conversions-by-touches range join would not be."""
    from .operators.temporal import last_touch_attribution

    e = _t(spark, sf, "events")
    return last_touch_attribution(
        e, "ts", "user_id", "event_type", "value", "event_id",
        conversion_type="purchase",
        touch_types=("click", "view", "signup"),
        horizon_hours=24,
    )


@_q(
    "qb41_pivot_counts",
    """
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
             AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
             AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
             AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT)
             AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT)
             AS view,
           CAST(count(*) FILTER (event_type IN
             ('click','error','purchase','signup','view')) AS BIGINT)
             AS row_total
    FROM events
    GROUP BY 1
    """,
)
def qb41(spark, sf):
    """Declared-values pivot counts matrix
    (operators/reshape.py:pivot_count_matrix): per-user event-type
    counts in wide form.  Declaring the pivot values is the 100 TB
    point — no value-discovery distinct scan, a single partial+final
    hash aggregate with one conditional count per declared column, and
    a plan-time-fixed schema the oracle binds statically."""
    from .operators.reshape import pivot_count_matrix

    e = _t(spark, sf, "events")
    return pivot_count_matrix(
        e, "user_id", "event_type",
        ("click", "error", "purchase", "signup", "view"),
    )


@_q(
    "qb42_linear_attribution",
    """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_id AS id,
             event_type AS t, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    carried AS (
      SELECT u, us, id, t, cents,
             last_value(CASE WHEN t = 'purchase'
                             THEN struct_pack(us := us, id := id,
                                              cents := cents)
                        END IGNORE NULLS)
               OVER (PARTITION BY u ORDER BY us DESC, id DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conv
      FROM base),
    touches AS (
      SELECT u, us, id, t, conv
      FROM carried
      WHERE t IN ('click','view','signup') AND conv IS NOT NULL
        AND conv.us - us <= 86400000000),
    sized AS (
      SELECT t, conv.cents AS ccents,
             count(*) OVER (PARTITION BY u, conv.us, conv.id) AS n,
             row_number() OVER (PARTITION BY u, conv.us, conv.id
                                ORDER BY us, id) AS pos
      FROM touches),
    cr AS (
      SELECT t, ccents,
             CASE WHEN pos = n
                  THEN 1000000 - (1000000 // n) * (n - 1)
                  ELSE 1000000 // n END AS credit
      FROM sized),
    credited AS (
      SELECT t AS touch_type, CAST(credit AS BIGINT) AS credit,
             CAST(ccents * credit AS BIGINT) AS vmicro
      FROM cr),
    journeys AS (
      SELECT DISTINCT u, conv.us AS jus, conv.id AS jid FROM touches),
    none_rows AS (
      SELECT 'none' AS touch_type, CAST(1000000 AS BIGINT) AS credit,
             CAST(cents * 1000000 AS BIGINT) AS vmicro
      FROM base b
      WHERE t = 'purchase' AND NOT EXISTS (
        SELECT 1 FROM journeys j
        WHERE j.u = b.u AND j.jus = b.us AND j.jid = b.id)),
    allrows AS (
      SELECT * FROM credited UNION ALL SELECT * FROM none_rows)
    SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit) AS BIGINT) AS credit_micro,
           CAST(sum(vmicro) AS BIGINT) AS value_micro_cents
    FROM allrows GROUP BY 1
    """,
)
def qb42(spark, sf):
    """Linear multi-touch attribution
    (operators/temporal.py:linear_attribution): each purchase's
    1e6-micro credit split evenly over its in-horizon preceding touches
    (integer remainder to the most recent touch, so per-conversion
    credit is exactly 1e6), unattributed conversions in the reported
    'none' bucket.  Reversed carry window assigns touches to journeys —
    two shuffles on user, no range join, pure int64."""
    from .operators.temporal import linear_attribution

    e = _t(spark, sf, "events")
    return linear_attribution(
        e, "ts", "user_id", "event_type", "value", "event_id",
        conversion_type="purchase",
        touch_types=("click", "view", "signup"),
        horizon_hours=24,
    )


@_q(
    "qb43_rfm_segments",
    """
    WITH p AS (
      SELECT user_id AS u, epoch_us(ts) // 86400000000 AS dayn,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    users AS (
      SELECT u, max(dayn) AS last_d, CAST(count(*) AS BIGINT) AS f,
             CAST(sum(cents) AS BIGINT) AS m
      FROM p GROUP BY 1),
    anch AS (SELECT max(last_d) AS ref FROM users),
    uu AS (
      SELECT u, last_d - (SELECT ref FROM anch) AS rneg, f, m
      FROM users),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM uu),
    scored AS (
      SELECT f, m,
             1 + (5 * (rank() OVER (ORDER BY rneg) - 1))
                 // (SELECT nu FROM n) AS r_score,
             1 + (5 * (rank() OVER (ORDER BY f) - 1))
                 // (SELECT nu FROM n) AS f_score,
             1 + (5 * (rank() OVER (ORDER BY m) - 1))
                 // (SELECT nu FROM n) AS m_score
      FROM uu)
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(f) AS BIGINT) AS total_purchases,
           CAST(sum(m) AS BIGINT) AS total_cents
    FROM scored GROUP BY 1, 2, 3
    """,
)
def qb43(spark, sf):
    """RFM segment census (operators/segment.py:rfm_segments): per-user
    recency/frequency/monetary quintile scores from closed-form
    cumulative-histogram ranks (score = 1 + floor(5·cum_before/n), ties
    share — the value-based definition the oracle mirrors with rank()),
    NO global row-level window: the engine computes cum_before two-phase
    (bucket offsets + bucket-partitioned prefix sums)."""
    from .operators.segment import rfm_segments

    e = _t(spark, sf, "events")
    return rfm_segments(
        e, "ts", "user_id", "event_type", "value",
        purchase_type="purchase", n_tiles=5,
    )


def _refint_oracle() -> str:
    rels = [
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem_supplier", "lineitem", "l_suppkey", "supplier",
         "s_suppkey"),
        ("customer_nation", "customer", "c_nationkey", "nation",
         "n_nationkey"),
        ("supplier_nation", "supplier", "s_nationkey", "nation",
         "n_nationkey"),
        ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in rels:
        parts.append(f"""
    SELECT relation, n_child, n_null_keys, n_orphans,
           CASE WHEN n_child > n_null_keys THEN
             CAST(round(n_orphans * 1000000 / (n_child - n_null_keys))
                  AS BIGINT)
           END AS orphan_micro
    FROM (
      SELECT '{name}' AS relation,
             (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
             (SELECT CAST(count(*) AS BIGINT) FROM {child}
              WHERE {ck} IS NULL) AS n_null_keys,
             (SELECT CAST(count(*) AS BIGINT) FROM {child} c
              WHERE c.{ck} IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}))
               AS n_orphans)""")
    return " UNION ALL ".join(parts)


@_q("qb44_referential_integrity", _refint_oracle())
def qb44(spark, sf):
    """FK-integrity audit over the star schema
    (operators/dq.py:referential_integrity): per declared relation the
    child count, null-key count (SQL FK semantics: null = not
    participating, never an orphan) and left-anti orphan count.  Seven
    independent join+count aggregates unioned — each one shuffled or
    AQE-broadcast at scale."""
    from .operators.dq import referential_integrity

    rels = [
        ("orders_customer", _t(spark, sf, "orders"), "o_custkey",
         _t(spark, sf, "customer"), "c_custkey"),
        ("lineitem_orders", _t(spark, sf, "lineitem"), "l_orderkey",
         _t(spark, sf, "orders"), "o_orderkey"),
        ("lineitem_part", _t(spark, sf, "lineitem"), "l_partkey",
         _t(spark, sf, "part"), "p_partkey"),
        ("lineitem_supplier", _t(spark, sf, "lineitem"), "l_suppkey",
         _t(spark, sf, "supplier"), "s_suppkey"),
        ("customer_nation", _t(spark, sf, "customer"), "c_nationkey",
         _t(spark, sf, "nation"), "n_nationkey"),
        ("supplier_nation", _t(spark, sf, "supplier"), "s_nationkey",
         _t(spark, sf, "nation"), "n_nationkey"),
        ("nation_region", _t(spark, sf, "nation"), "n_regionkey",
         _t(spark, sf, "region"), "r_regionkey"),
    ]
    from .operators.dq import referential_integrity as _ri

    return _ri(rels)


def _profile_oracle(table: str, cols: tuple[str, ...]) -> str:
    parts = []
    for c in cols:
        parts.append(f"""
    SELECT '{c}' AS "column",
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT)
             AS n_distinct,
           min(CAST({c} AS VARCHAR)) AS min_str,
           max(CAST({c} AS VARCHAR)) AS max_str
    FROM {table}""")
    return " UNION ALL ".join(parts)


@_q(
    "qb45_profile_columns",
    _profile_oracle(
        "documents", ("doc_id", "text", "lang", "source", "n_chars")
    ),
)
def qb45(spark, sf):
    """Single-scan column profiler (operators/dq.py:profile_columns):
    per column null count, exact distinct count, and lexicographic
    min/max of the STRING rendering — stack-unpivot into (column,
    value) + ONE hash aggregate, so profile cost is one table scan
    regardless of column count."""
    from .operators.dq import profile_columns

    d = _t(spark, sf, "documents")
    return profile_columns(d, ("doc_id", "text", "lang", "source", "n_chars"))

@_q(
    "qb46_rolling_hll",
    """
    WITH base AS (
      SELECT epoch_us(ts) // 86400000000 AS day,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h,
             user_id AS v
      FROM events),
    day_regs AS (
      SELECT day, h // 18014398509481984 AS bucket,
             max(CASE WHEN h % 18014398509481984 = 0 THEN 55
                      ELSE 54 - length(bin(h % 18014398509481984)) + 1
                 END) AS M
      FROM base GROUP BY 1, 2),
    observed AS (SELECT DISTINCT day FROM base),
    win_regs AS (
      SELECT wend, bucket, max(M) AS M
      FROM (SELECT bucket, M,
                   unnest(generate_series(day, day + 6)) AS wend
            FROM day_regs)
      WHERE wend IN (SELECT day FROM observed)
      GROUP BY 1, 2),
    sums AS (
      SELECT wend,
             CAST(sum(CAST(pow(2, 56 - M) AS BIGINT)) AS BIGINT)
               AS s_used,
             count(*) AS n_used
      FROM win_regs GROUP BY 1),
    nd AS (
      SELECT wend, CAST(count(*) AS BIGINT) AS n_days
      FROM (SELECT unnest(generate_series(day, day + 6)) AS wend
            FROM observed)
      WHERE wend IN (SELECT day FROM observed)
      GROUP BY 1),
    ex AS (
      SELECT wend, CAST(count(DISTINCT v) AS BIGINT) AS n_exact
      FROM (SELECT v, unnest(generate_series(day, day + 6)) AS wend
            FROM (SELECT DISTINCT day, v FROM base))
      WHERE wend IN (SELECT day FROM observed)
      GROUP BY 1)
    SELECT CAST(DATE '1970-01-01' + CAST(wend AS INT) AS VARCHAR)
             AS window_end,
           n_days, n_exact,
           CAST(round(2.093604968788012e+20
                      / (s_used + (64 - n_used) * 72057594037927936))
                AS BIGINT) AS hll_est
    FROM nd JOIN ex USING (wend) JOIN sums USING (wend)
    """,
)
def qb46(spark, sf):
    """Rolling 7-day distinct users from MERGED daily HLL sketches
    (operators/sketch.py:hll_rolling_distinct): daily registers built
    once, each window a register-wise max over <=7 register sets — the
    mergeability pattern that turns a W-day distinct series from W raw
    re-scans into W tiny register rows per day.  Exact rolling distinct
    rides along as the audit column; the one floating op is the final
    alpha division (identical IEEE both engines)."""
    from .operators.sketch import hll_rolling_distinct

    e = _t(spark, sf, "events")
    return hll_rolling_distinct(e, "ts", "user_id", window_days=7, b=6)


@_q(
    "qb47_assoc_rules",
    """
    WITH b AS (SELECT DISTINCT user_id AS u, event_type AS i FROM events),
    n AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nb FROM b),
    c AS (SELECT i, CAST(count(*) AS BIGINT) AS ci FROM b GROUP BY 1),
    p AS (SELECT a.i AS antecedent, bb.i AS consequent,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM b a JOIN b bb ON a.u = bb.u AND a.i <> bb.i
          GROUP BY 1, 2)
    SELECT antecedent, consequent, n_both,
           ca.ci AS n_antecedent, cb.ci AS n_consequent,
           CAST(round(n_both * 1000000 / ca.ci) AS BIGINT) AS conf_micro,
           CAST(round(CAST(n_both AS DOUBLE)
                      * CAST((SELECT nb FROM n) AS DOUBLE)
                      * 1000000.0
                      / (CAST(ca.ci AS DOUBLE) * CAST(cb.ci AS DOUBLE)))
                AS BIGINT) AS lift_micro
    FROM p JOIN c ca ON ca.i = antecedent JOIN c cb ON cb.i = consequent
    WHERE n_both >= 2
    """,
)
def qb47(spark, sf):
    """Directed association rules over user event-type baskets
    (operators/assoc.py:association_rules): support / confidence / lift
    per antecedent->consequent pair from ONE user-keyed self-join over
    the distinct basket index (k(k-1) pair rows per user, bounded by
    catalog width, never the corpus).  Confidence = single micro
    division of int64 counts; lift multiplies in double space with a
    fixed mirrored op order (int64 products of user-scale counts would
    overflow at web scale)."""
    from .operators.assoc import association_rules

    e = _t(spark, sf, "events")
    return association_rules(e, "user_id", "event_type",
                             min_support_count=2)


@_q(
    "qb48_quantile_sketch",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
    ranks AS (SELECT g, n, q_pct, (q_pct * n + 99) // 100 AS r
              FROM n, (SELECT unnest([50, 90, 99]) AS q_pct)),
    hist AS (SELECT g, v, count(*) AS c FROM base GROUP BY 1, 2),
    cumv AS (SELECT g, v,
                    sum(c) OVER (PARTITION BY g ORDER BY v) AS cum
             FROM hist),
    exact AS (SELECT r2.g, r2.q_pct, r2.n, min(v) AS exact_value
              FROM cumv JOIN ranks r2 ON cumv.g = r2.g AND cum >= r2.r
              GROUP BY 1, 2, 3),
    bh AS (SELECT g, v // 128 AS b, count(*) AS c FROM base GROUP BY 1, 2),
    cumb AS (SELECT g, b,
                    sum(c) OVER (PARTITION BY g ORDER BY b) AS cum
             FROM bh),
    sk AS (SELECT r2.g, r2.q_pct,
                  CAST(min(b) * 128 + 127 AS BIGINT) AS sketch_value
           FROM cumb JOIN ranks r2 ON cumb.g = r2.g AND cum >= r2.r
           GROUP BY 1, 2)
    SELECT e.g AS event_type, CAST(e.q_pct AS BIGINT) AS q_pct, e.n,
           e.exact_value, s.sketch_value,
           CAST(s.sketch_value - e.exact_value AS BIGINT) AS err
    FROM exact e JOIN sk s ON e.g = s.g AND e.q_pct = s.q_pct
    """,
)
def qb48(spark, sf):
    """Mergeable binned-quantile sketch vs exact type-1 quantile audit
    (operators/sketch.py:binned_quantile_audit): per event type the
    p50/p90/p99 of value cents, once exact (distinct-value histogram
    cumulative counts — never a row-level sort) and once from a
    128-cent fixed-width histogram whose bins merge by SUM across
    partitions — the bounded-error percentile path at 100 TB.  Sketch
    reports the first covering bin's UPPER edge, so err in [0, 128)."""
    from .operators.sketch import binned_quantile_audit

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return binned_quantile_audit(
        e, "event_type", "cents", quantiles=(50, 90, 99), bin_width=128
    )


@_q(
    "qb49_assortativity",
    """
    WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS dx FROM e GROUP BY 1),
    dd AS (SELECT d, CAST(count(*) AS BIGINT) AS dy FROM e GROUP BY 1),
    j AS (SELECT dx, dy FROM e JOIN ds USING (s) JOIN dd USING (d)),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(dx) AS BIGINT) AS sx,
                 CAST(sum(dy) AS BIGINT) AS sy,
                 CAST(sum(dx * dy) AS BIGINT) AS sxy,
                 CAST(sum(dx * dx) AS BIGINT) AS sxx,
                 CAST(sum(dy * dy) AS BIGINT) AS syy
          FROM j),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM ds),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dst FROM dd)
    SELECT m AS n_edges, (SELECT n_src FROM ns) AS n_src_nodes,
           (SELECT n_dst FROM nd) AS n_dst_nodes,
           CASE WHEN sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN CAST(round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                * 1000000.0
                                / (sqrt(CAST(m AS DOUBLE)
                                        * CAST(sxx AS DOUBLE)
                                        - CAST(sx AS DOUBLE)
                                          * CAST(sx AS DOUBLE))
                                   * sqrt(CAST(m AS DOUBLE)
                                          * CAST(syy AS DOUBLE)
                                          - CAST(sy AS DOUBLE)
                                            * CAST(sy AS DOUBLE))))
                     AS BIGINT) END AS assortativity_micro
    FROM m
    """,
)
def qb49(spark, sf):
    """Degree assortativity of the customer-supplier trading graph
    (operators/graph.py:degree_assortativity): Pearson correlation
    across edges between endpoint degrees — the hub-and-spoke detector
    that predicts join skew (r < 0: busy customers buy from long-tail
    suppliers).  Five int64 moment sums in one aggregate; the terminal
    Pearson evaluated in double with a fixed mirrored op order."""
    from .operators.graph import degree_assortativity

    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    )
    return degree_assortativity(edges, "cust", "supp")


def _qb50_oracle() -> str:
    # bigram shingles, the qb34 gram idiom (the unigram vocabulary is a
    # degenerate 31-word set in the synthetic corpus — every source
    # covers it fully and greedy stops after one round)
    tok = (
        "SELECT DISTINCT source AS s, w || ' ' || lead_w AS i "
        "FROM (SELECT source, w, "
        "lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w "
        "FROM (SELECT doc_id, source, "
        "unnest(string_split(lower(trim("
        r"regexp_replace(text,'\s+',' ','g'))),' ')) AS w, "
        "generate_subscripts(string_split(lower(trim("
        r"regexp_replace(text,'\s+',' ','g'))),' '),1) AS idx "
        "FROM documents)) WHERE lead_w IS NOT NULL"
    )
    return f"""
    WITH si AS ({tok}),
    c1 AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM si GROUP BY 1),
    p1 AS (SELECT s, c FROM c1 ORDER BY c DESC, s LIMIT 1),
    cov1 AS (SELECT DISTINCT i FROM si WHERE s = (SELECT s FROM p1)),
    c2 AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM si
           WHERE s <> (SELECT s FROM p1)
             AND i NOT IN (SELECT i FROM cov1) GROUP BY 1),
    p2 AS (SELECT s, c FROM c2 ORDER BY c DESC, s LIMIT 1),
    cov2 AS (SELECT i FROM cov1 UNION
             SELECT DISTINCT i FROM si WHERE s = (SELECT s FROM p2)),
    c3 AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM si
           WHERE s NOT IN (SELECT s FROM p1 UNION SELECT s FROM p2)
             AND i NOT IN (SELECT i FROM cov2) GROUP BY 1),
    p3 AS (SELECT s, c FROM c3 ORDER BY c DESC, s LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS round, s AS chosen, c AS n_new,
           c AS cum_covered FROM p1
    UNION ALL
    SELECT CAST(2 AS BIGINT), s, c, c + (SELECT c FROM p1) FROM p2
    UNION ALL
    SELECT CAST(3 AS BIGINT), s, c,
           c + (SELECT c FROM p1) + (SELECT c FROM p2) FROM p3
    """


@_q("qb50_greedy_cover", _qb50_oracle())
def qb50(spark, sf):
    """Greedy maximum-coverage source selection over the bigram-shingle
    vocabulary (operators/mixing.py:greedy_set_cover): 3 rounds, each
    picking the source adding the most uncovered distinct shingles —
    the (1-1/e) approximation to the NP-hard optimum, and the
    data-DEPENDENT counterpart of qb34's fixed size order.  Each round
    is one anti-join + count + TakeOrdered argmax; only the winning
    row is ever collected.  Oracle = 3 unrolled greedy CTE rounds (the
    kmeans/BT unrolled-round idiom)."""
    from .operators.dedup import shingles_col
    from .operators.mixing import greedy_set_cover

    d = _t(spark, sf, "documents")
    si = d.select(
        F.col("source"),
        F.explode(shingles_col(F.col("text"), 2)).alias("w"),
    )
    return greedy_set_cover(si, "source", "w", k=3)


@_q(
    "qb51_char_entropy",
    """
    WITH base AS (SELECT source AS g, doc_id AS doc, text AS t,
                         length(text) AS n
                  FROM documents WHERE length(text) > 0),
    chars AS (SELECT g, doc, n, substr(t, CAST(p AS INT), 1) AS c
              FROM (SELECT g, doc, t, n,
                           unnest(generate_series(1, n)) AS p
                    FROM base)),
    counts AS (SELECT g, doc, n, c, CAST(count(*) AS BIGINT) AS cc
               FROM chars GROUP BY 1, 2, 3, 4),
    vals AS (SELECT DISTINCT cc AS v FROM counts
             UNION SELECT DISTINCT n FROM base),
    lns AS (SELECT v, CAST(round(ln(CAST(v AS DOUBLE)) * 1000000)
                           AS BIGINT) AS lnm
            FROM vals),
    perdoc AS (SELECT g, doc, n, CAST(sum(cc * l.lnm) AS BIGINT) AS s
               FROM counts JOIN lns l ON l.v = cc GROUP BY 1, 2, 3),
    h AS (SELECT g, ln2.lnm - (s // n) AS h
          FROM perdoc JOIN lns ln2 ON ln2.v = n)
    SELECT g AS source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(h) // count(*) AS BIGINT) AS avg_entropy_micro,
           CAST(sum(CASE WHEN h < 2500000 THEN 1 ELSE 0 END) AS BIGINT)
             AS low_entropy_docs
    FROM h GROUP BY 1
    """,
)
def qb51(spark, sf):
    """Per-source character-entropy audit
    (operators/textstats.py:char_entropy_report) — the gibberish /
    binary-paste curation signal: per-doc Shannon entropy of the char
    distribution, integer-exact via the q66 discipline (ln evaluated
    once per DISTINCT count on a doc-length-bounded table, then pure
    int64 arithmetic on the rounded micros; no double is ever
    summed)."""
    from .operators.textstats import char_entropy_report

    d = _t(spark, sf, "documents")
    return char_entropy_report(d, "text", "source", "doc_id")


@_q(
    "qb52_disorder_audit",
    """
    WITH base AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         epoch_us(ts) AS us, event_id AS a
                  FROM events),
    run AS (SELECT day,
                   (max(us) OVER (PARTITION BY day ORDER BY a
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - us) // 1000000
                     AS lag_s
            FROM base),
    hist AS (SELECT day, lag_s, count(*) AS c FROM run GROUP BY 1, 2),
    cum AS (SELECT day, lag_s,
                   sum(c) OVER (PARTITION BY day ORDER BY lag_s) AS cum
            FROM hist),
    n AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events
          FROM run GROUP BY 1),
    r AS (SELECT day, n_events, (50 * n_events + 99) // 100 AS r50,
                 (99 * n_events + 99) // 100 AS r99
          FROM n),
    p50 AS (SELECT c2.day, CAST(min(lag_s) AS BIGINT) AS p50_disorder_s
            FROM cum c2 JOIN r ON c2.day = r.day AND cum >= r50
            GROUP BY 1),
    p99 AS (SELECT c2.day, CAST(min(lag_s) AS BIGINT) AS p99_disorder_s
            FROM cum c2 JOIN r ON c2.day = r.day AND cum >= r99
            GROUP BY 1),
    late AS (SELECT day,
                    CAST(sum(CASE WHEN lag_s > 3600 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_late
             FROM run GROUP BY 1)
    SELECT CAST(DATE '1970-01-01' + CAST(n.day AS INT) AS VARCHAR) AS day,
           n.n_events, p50_disorder_s, p99_disorder_s, late.n_late,
           CAST(round(late.n_late * 1000000 / n.n_events) AS BIGINT)
             AS late_share_micro
    FROM n JOIN p50 ON p50.day = n.day JOIN p99 ON p99.day = n.day
    JOIN late ON late.day = n.day
    """,
)
def qb52(spark, sf):
    """Event-time disorder audit (operators/temporal.py:
    event_time_disorder) — the watermark-tuning number: per day the
    p50/p99 arrival-order disorder (running event-time max minus the
    event's own time, in arrival order) plus the share arriving later
    than 1h.  Running max is TWO-PHASE (arrival buckets -> per-day
    bucket-table prefix max -> within-bucket window), so no window
    spans a raw day partition; quantiles come off the per-day
    second-histogram (qb48 idiom)."""
    from .operators.temporal import event_time_disorder

    e = _t(spark, sf, "events")
    return event_time_disorder(e, "ts", "event_id")


@_q(
    "qb53_decayed_counts",
    """
    WITH base AS (SELECT event_type AS k,
                         epoch_us(ts) // 86400000000 AS day
                  FROM events),
    anchor AS (SELECT max(day) AS a FROM base),
    daily AS (SELECT k, (SELECT a FROM anchor) - day AS age,
                     CAST(count(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2),
    num AS (SELECT k,
                   CAST(sum(CASE WHEN age <= 40
                            THEN c * (CAST(1 AS BIGINT)
                                      << CAST(40 - age AS INT))
                            ELSE 0 END) AS BIGINT) AS num,
                   CAST(sum(c) AS BIGINT) AS n_total
            FROM daily GROUP BY 1),
    tot AS (SELECT CAST(sum(num) AS BIGINT) AS t FROM num)
    SELECT k AS event_type, n_total,
           CAST(round(CAST(num AS DOUBLE) * 1000.0
                      / CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE))
                AS BIGINT) AS decayed_milli,
           CAST(round(CAST(num AS DOUBLE) * 1000000.0
                      / CAST((SELECT t FROM tot) AS DOUBLE))
                AS BIGINT) AS share_micro
    FROM num
    """,
)
def qb53(spark, sf):
    """Exact half-life-decayed trending counts (operators/temporal.py:
    half_life_decayed_counts): per event type the one-day-half-life
    decayed count at the corpus max day — weight 2^(-age) is a
    power-of-two rational, so the series is ONE int64 numerator
    sum(c_d * 2^(40-age)) and a single exact power-of-two division
    (qa66 discipline; no transcendental, no accumulation).  Shares
    from the integer numerators."""
    from .operators.temporal import half_life_decayed_counts

    e = _t(spark, sf, "events")
    return half_life_decayed_counts(e, "ts", "event_type",
                                    max_age_days=40)


@_q(
    "qb54_srm_check",
    """
    WITH units AS (SELECT DISTINCT event_type AS segment, user_id AS u
                   FROM events),
    counts AS (SELECT segment,
                      CAST(sum(CASE WHEN substr(md5(CAST(u AS VARCHAR)),
                                                1, 1) < '8'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                      CAST(sum(CASE WHEN substr(md5(CAST(u AS VARCHAR)),
                                                1, 1) < '8'
                               THEN 0 ELSE 1 END) AS BIGINT) AS n_b
               FROM units GROUP BY 1),
    z AS (SELECT segment, n_a, n_b,
                 CAST(round(CAST(n_a - n_b AS DOUBLE)
                            / sqrt(CAST(n_a + n_b AS DOUBLE))
                            * 1000.0) AS BIGINT) AS z_milli
          FROM counts)
    SELECT segment, n_a, n_b, z_milli,
           CAST(CASE WHEN abs(z_milli) > 3290 THEN 1 ELSE 0 END
                AS BIGINT) AS srm_flag
    FROM z
    """,
)
def qb54(spark, sf):
    """Sample-ratio-mismatch guardrail (operators/stats.py:srm_check):
    per event-type segment, the distinct engaged users split 50/50 by
    the deterministic md5-nibble rule, tested against the declared
    ratio with z = (n_a-n_b)/sqrt(n); flag fires on the ROUNDED
    z_milli vs an integer threshold (3.29 ~ p<0.001), so the verdict
    is engine-deterministic."""
    from .operators.stats import srm_check

    e = _t(spark, sf, "events")
    return srm_check(e, "user_id", "event_type")


@_q(
    "qb55_hour_dow_profile",
    """
    WITH base AS (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
                         (epoch_us(ts) % 86400000000) // 3600000000
                           AS hour
                  FROM events),
    cells AS (SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_obs
              FROM base GROUP BY 1, 2),
    r AS (SELECT dow, CAST(sum(n_obs) AS BIGINT) AS rr
          FROM cells GROUP BY 1),
    c AS (SELECT hour, CAST(sum(n_obs) AS BIGINT) AS cc
          FROM cells GROUP BY 1),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS tt FROM cells)
    SELECT CAST(cells.dow AS BIGINT) AS dow,
           CAST(cells.hour AS BIGINT) AS hour, n_obs,
           CAST(round(CAST(rr AS DOUBLE) * CAST(cc AS DOUBLE)
                      / CAST(tt AS DOUBLE) * 1000000.0) AS BIGINT)
             AS expected_micro,
           CAST(round((CAST(n_obs AS DOUBLE)
                       - CAST(rr AS DOUBLE) * CAST(cc AS DOUBLE)
                         / CAST(tt AS DOUBLE))
                      / sqrt(CAST(rr AS DOUBLE) * CAST(cc AS DOUBLE)
                             / CAST(tt AS DOUBLE))
                      * 1000.0) AS BIGINT) AS resid_milli
    FROM cells JOIN r ON r.dow = cells.dow
    JOIN c ON c.hour = cells.hour CROSS JOIN t
    """,
)
def qb55(spark, sf):
    """Hour-of-day x day-of-week intensity matrix with independence
    residuals (operators/temporal.py:hour_dow_profile): the calendar
    heatmap plus Pearson residuals vs the independence expectation
    (row*col/total), pure UTC arithmetic from epoch micros (dow 0 =
    Sunday via the Thursday epoch anchor — no session timezone
    anywhere).  Terminal ratios in double, fixed mirrored order."""
    from .operators.temporal import hour_dow_profile

    e = _t(spark, sf, "events")
    return hour_dow_profile(e, "ts")


@_q(
    "qb56_sequence_regex",
    """
    WITH seq AS (
      SELECT user_id AS a,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY epoch_us(ts), event_id) AS s
      FROM events GROUP BY 1),
    pats AS (SELECT * FROM (VALUES ('browse_to_buy', 'v[cv]*p'),
                                   ('double_error', 'ee'),
                                   ('signup_to_buy', 's.*p'))
                      AS t(pattern, rx)),
    g AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n_actors,
                 CAST(sum(CASE WHEN regexp_matches(s, rx)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_match
          FROM seq CROSS JOIN pats GROUP BY 1)
    SELECT pattern, n_actors, n_match,
           CAST(round(n_match * 1000000 / n_actors) AS BIGINT)
             AS share_micro
    FROM g
    """,
)
def qb56(spark, sf):
    """MATCH_RECOGNIZE-lite sequence-pattern shares
    (operators/dialogue.py:pattern_match_share): each user's ordered
    event-initial string (qa15 array_sort(collect_list(struct)) idiom,
    ONE scan for all declared patterns via an exploded pattern table)
    matched against portable regexes — the sequence engine Spark lacks
    natively (Flink/Trino MATCH_RECOGNIZE analogue)."""
    from .operators.dialogue import pattern_match_share

    e = _t(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    return pattern_match_share(
        e,
        "user_id",
        "event_type",
        ("us", "event_id"),
        {
            "browse_to_buy": "v[cv]*p",
            "double_error": "ee",
            "signup_to_buy": "s.*p",
        },
    )


@_q(
    "qb57_time_to_conversion",
    """
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us,
                         event_id AS id, event_type AS t FROM events),
    carried AS (
      SELECT u, us, id, t,
             last_value(CASE WHEN t IN ('click', 'view', 'signup')
                        THEN struct_pack(us := us, t := t) END
                        IGNORE NULLS)
               OVER (PARTITION BY u ORDER BY us, id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch
      FROM base),
    conv AS (SELECT touch.t AS touch_type,
                    (us - touch.us) // 1000000 AS gap_s
             FROM carried
             WHERE t = 'purchase' AND touch IS NOT NULL
               AND us - touch.us <= 86400000000),
    hist AS (SELECT touch_type, gap_s, count(*) AS c
             FROM conv GROUP BY 1, 2),
    cum AS (SELECT touch_type, gap_s,
                   sum(c) OVER (PARTITION BY touch_type ORDER BY gap_s)
                     AS cum
            FROM hist),
    agg AS (SELECT touch_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(gap_s) AS BIGINT) AS sm
            FROM conv GROUP BY 1),
    p50 AS (SELECT cum.touch_type, CAST(min(gap_s) AS BIGINT) AS p50_s
            FROM cum JOIN agg ON agg.touch_type = cum.touch_type
            WHERE cum >= (50 * n + 99) // 100 GROUP BY 1),
    p90 AS (SELECT cum.touch_type, CAST(min(gap_s) AS BIGINT) AS p90_s
            FROM cum JOIN agg ON agg.touch_type = cum.touch_type
            WHERE cum >= (90 * n + 99) // 100 GROUP BY 1)
    SELECT agg.touch_type, n AS n_conversions,
           CAST(sm // n AS BIGINT) AS mean_s, p50_s, p90_s
    FROM agg JOIN p50 ON p50.touch_type = agg.touch_type
    JOIN p90 ON p90.touch_type = agg.touch_type
    """,
)
def qb57(spark, sf):
    """Conversion-latency distribution per touch type
    (operators/temporal.py:time_to_conversion): whole-second gap from
    each purchase to its most recent in-horizon preceding touch (qb40
    forward-carry window), exact type-1 p50/p90 off the per-type
    second-histogram cumulative counts (qb48 idiom), mean on integer
    sums — the number that sets attribution horizons."""
    from .operators.temporal import time_to_conversion

    e = _t(spark, sf, "events")
    return time_to_conversion(e, "ts", "user_id", "event_type",
                              "event_id")


@_q(
    "qb58_feature_hash_audit",
    r"""
    WITH grams AS (
      SELECT DISTINCT w || ' ' || lead_w AS g
      FROM (SELECT w,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY idx)
                     AS lead_w
            FROM (SELECT doc_id,
                         unnest(string_split(lower(trim(
                           regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                           AS w,
                         generate_subscripts(string_split(lower(trim(
                           regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                           1) AS idx
                  FROM documents))
      WHERE lead_w IS NOT NULL),
    h AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
          FROM grams),
    b AS (SELECT k, h % (CAST(1 AS BIGINT) << CAST(k AS INT)) AS bkt
          FROM h, (SELECT unnest([8, 12, 16]) AS k)),
    pb AS (SELECT k, bkt, CAST(count(*) AS BIGINT) AS ld
           FROM b GROUP BY 1, 2),
    g2 AS (SELECT k, CAST(sum(ld) AS BIGINT) AS n_features,
                  CAST(count(*) AS BIGINT) AS n_buckets_used,
                  CAST(sum(CASE WHEN ld > 1 THEN ld ELSE 0 END)
                       AS BIGINT) AS n_collided_features,
                  CAST(max(ld) AS BIGINT) AS max_bucket_load
           FROM pb GROUP BY 1)
    SELECT CAST(k AS BIGINT) AS log2_dims, n_features, n_buckets_used,
           n_collided_features,
           CAST(round(n_collided_features * 1000000 / n_features)
                AS BIGINT) AS collided_share_micro,
           max_bucket_load
    FROM g2
    """,
)
def qb58(spark, sf):
    """Hashing-trick collision audit over the bigram-shingle feature
    space (operators/sketch.py:feature_hash_collisions): per candidate
    width 2^k the distinct features sharing buckets — the
    pick-the-hash-width-before-training number; buckets are the low k
    bits of the 60-bit md5 integer (bit-identical in any engine), one
    distinct + one aggregate per k, never a second corpus scan."""
    from .operators.dedup import shingles_col
    from .operators.sketch import feature_hash_collisions

    d = _t(spark, sf, "documents")
    si = d.select(F.explode(shingles_col(F.col("text"), 2)).alias("w"))
    return feature_hash_collisions(si, "w", (8, 12, 16))


@_q(
    "qb59_rake_keywords",
    r"""
    WITH toks AS (
      SELECT doc, w, idx FROM (
        SELECT doc_id AS doc,
               unnest(string_split(lower(trim(
                 regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w,
               generate_subscripts(string_split(lower(trim(
                 regexp_replace(text, '\s+', ' ', 'g'))), ' '), 1) AS idx
        FROM documents)
      WHERE w <> ''),
    ph AS (SELECT doc, w,
                  sum(CASE WHEN w IN ('a', 'the') THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc ORDER BY idx
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS phid
           FROM toks),
    nw AS (SELECT doc, w, phid FROM ph WHERE w NOT IN ('a', 'the')),
    occ AS (SELECT w, count(*) OVER (PARTITION BY doc, phid) AS plen
            FROM nw),
    words AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS frequency,
                     CAST(sum(plen) AS BIGINT) AS degree
              FROM occ GROUP BY 1)
    SELECT word, frequency, degree,
           CAST(round(degree * 1000000 / frequency) AS BIGINT)
             AS score_micro
    FROM words ORDER BY score_micro DESC, degree DESC, word LIMIT 15
    """,
)
def qb59(spark, sf):
    """RAKE keyword extraction (operators/textstats.py:rake_keywords,
    Rose et al. 2010): candidate phrases split at stopword boundaries,
    word score = degree/frequency where degree sums the containing
    phrase lengths — the deterministic corpus-topic extractor for
    curation reports.  Phrase ids from a per-DOC running stopword
    count (doc-length-bounded window); top-15 via orderBy+limit."""
    from .operators.textstats import rake_keywords

    d = _t(spark, sf, "documents")
    return rake_keywords(d, "text", "doc_id", ("a", "the"), k=15)


@_q(
    "qb60_embedding_drift",
    """
    WITH comp AS (
      SELECT g, half, d, CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
               AS xm
      FROM (SELECT label AS g, vec_id % 2 AS half,
                   unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings)),
    sums AS (SELECT g, half, d, CAST(sum(xm) AS BIGINT) AS s
             FROM comp GROUP BY 1, 2, 3),
    ns AS (SELECT label AS g, vec_id % 2 AS half,
                  CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1, 2),
    cent AS (SELECT sums.g, sums.half, d, s // n AS c, n
             FROM sums JOIN ns ON ns.g = sums.g AND ns.half = sums.half),
    mom AS (
      SELECT a.g, max(a.n) AS n_a, max(b.n) AS n_b,
             CAST(sum(a.c * b.c) AS BIGINT) AS dot,
             CAST(sum(a.c * a.c) AS BIGINT) AS qa,
             CAST(sum(b.c * b.c) AS BIGINT) AS qb
      FROM (SELECT * FROM cent WHERE half = 0) a
      JOIN (SELECT * FROM cent WHERE half = 1) b
        ON a.g = b.g AND a.d = b.d
      GROUP BY 1)
    SELECT g AS label, n_a, n_b,
           CASE WHEN qa > 0 AND qb > 0 THEN
             CAST(round(CAST(dot AS DOUBLE) * 1e6
                        / (sqrt(CAST(qa AS DOUBLE))
                           * sqrt(CAST(qb AS DOUBLE)))) AS BIGINT)
           END AS centroid_cosine_micro,
           CASE WHEN qa > 0 AND qb > 0 THEN
             1000000 - CAST(round(CAST(dot AS DOUBLE) * 1e6
                        / (sqrt(CAST(qa AS DOUBLE))
                           * sqrt(CAST(qb AS DOUBLE)))) AS BIGINT)
           END AS drift_micro
    FROM mom
    """,
)
def qb60(spark, sf):
    """Embedding-space drift monitor (operators/similarity.py:
    embedding_drift): per label the cosine between the centroids of
    the two id-parity halves — the per-snapshot "did the distribution
    move" check.  Component sums exact int64 on micro-scaled
    components, micro-precision centroids via truncating division
    (Spark div == DuckDB // including negatives — verified), dot and
    quadratic sums int64, terminal cosine one fixed-order double."""
    from .operators.similarity import embedding_drift

    e = _t(spark, sf, "embeddings")
    return embedding_drift(e, "vec_id", "embedding", "label", dim=64)


@_q(
    "qb61_mutual_best",
    """
    WITH av AS (SELECT vec_id AS ida, embedding::DOUBLE[] AS va
                FROM embeddings WHERE vec_id % 2 = 0),
    bv AS (SELECT vec_id AS idb, embedding::DOUBLE[] AS vb
           FROM embeddings WHERE vec_id % 2 = 1),
    scored AS (SELECT ida, idb,
                      CAST(round(list_cosine_similarity(va, vb) * 1e6)
                           AS BIGINT) AS cosine_micro
               FROM av CROSS JOIN bv),
    ta AS (SELECT ida, idb, cosine_micro
           FROM (SELECT *, row_number() OVER (PARTITION BY ida
                   ORDER BY cosine_micro DESC, idb) AS r FROM scored)
           WHERE r = 1),
    tb AS (SELECT ida, idb
           FROM (SELECT *, row_number() OVER (PARTITION BY idb
                   ORDER BY cosine_micro DESC, ida) AS r FROM scored)
           WHERE r = 1)
    SELECT ta.ida AS id_a, ta.idb AS id_b, ta.cosine_micro
    FROM ta JOIN tb ON ta.ida = tb.ida AND ta.idb = tb.idb
    """,
)
def qb61(spark, sf):
    """Reciprocal best-match alignment (operators/similarity.py:
    mutual_best_pairs): pairs where each side is the other's cosine
    top-1 across the id-parity halves — the entity-alignment /
    bitext-mining primitive (mutual nearest neighbors are
    high-precision).  Exact size-guarded audit form; at scale the same
    reciprocal join runs over IVF/LSH shortlists.  Scores
    micro-rounded before ranking (q29 discipline); streamed side
    repartitioned before the broadcast join (qa46 lesson)."""
    from .operators.similarity import mutual_best_pairs

    e = _t(spark, sf, "embeddings")
    return mutual_best_pairs(
        e.where(F.col("vec_id") % 2 == 0),
        e.where(F.col("vec_id") % 2 == 1),
        "vec_id",
        "embedding",
    )


@_q(
    "qb62_ltv_curve",
    """
    WITH base AS (SELECT user_id AS u,
                         epoch_us(ts) // 604800000000 AS wk,
                         event_type AS t,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events),
    cohorts AS (SELECT u, min(wk) AS cwk FROM base GROUP BY 1),
    sizes AS (SELECT cwk, CAST(count(*) AS BIGINT) AS n_users
              FROM cohorts GROUP BY 1),
    rev AS (SELECT c.cwk, b.wk - c.cwk AS age_week,
                   CAST(sum(cents) AS BIGINT) AS week_cents
            FROM base b JOIN cohorts c ON b.u = c.u
            WHERE t = 'purchase' GROUP BY 1, 2),
    cum AS (SELECT cwk, CAST(age_week AS BIGINT) AS age_week, week_cents,
                   CAST(sum(week_cents) OVER (PARTITION BY cwk
                        ORDER BY age_week) AS BIGINT) AS cum_cents
            FROM rev)
    SELECT CAST(DATE '1970-01-01' + CAST(cwk * 7 AS INT) AS VARCHAR)
             AS cohort_week,
           age_week, n_users, week_cents, cum_cents,
           CAST(round(cum_cents * 1000 / n_users) AS BIGINT)
             AS cum_per_user_milli
    FROM cum JOIN sizes USING (cwk)
    """,
)
def qb62(spark, sf):
    """Cohort lifetime-value curve (operators/temporal.py:ltv_curve):
    users cohorted by first-activity week, purchase cents accumulated
    per week of age, per-user cumulative in milli — the payback
    trajectory next to qa59's retention cohorts.  Cumulative window
    runs on the (cohort, age) WEEK spine partitioned by cohort;
    denominator is the fixed cohort size."""
    from .operators.temporal import ltv_curve

    e = _t(spark, sf, "events")
    return ltv_curve(e, "ts", "user_id", "event_type", "value")


@_q(
    "qb63_anomalous_days",
    """
    WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
                          CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY 1),
    t AS (SELECT day, n,
                 CAST(sum(n) OVER w AS BIGINT) AS s,
                 CAST(sum(n * n) OVER w AS BIGINT) AS ss,
                 count(n) OVER w AS k
          FROM daily
          WINDOW w AS (ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    z AS (SELECT day, n,
                 CASE WHEN k = 7
                      THEN CAST(round(s * 1000 / 7) AS BIGINT)
                 END AS trail_mean_milli,
                 CASE WHEN k = 7 AND
                      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                       * CAST(s AS DOUBLE) / 7.0) / 6.0 > 0
                      THEN CAST(round((CAST(n AS DOUBLE)
                                       - CAST(s AS DOUBLE) / 7.0)
                              / sqrt((CAST(ss AS DOUBLE)
                                      - CAST(s AS DOUBLE)
                                        * CAST(s AS DOUBLE) / 7.0) / 6.0)
                              * 1000.0) AS BIGINT)
                 END AS z_milli
          FROM t)
    SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS VARCHAR) AS day,
           n AS n_events, trail_mean_milli, z_milli,
           CAST(CASE WHEN abs(z_milli) > 3000 THEN 1 ELSE 0 END
                AS BIGINT) AS anomaly_flag
    FROM z
    """,
)
def qb63(spark, sf):
    """Outlier-day detection (operators/temporal.py:anomalous_days):
    each day's volume z-scored against the trailing 7 observed days —
    exact int64 window moments over the calendar-bounded day spine,
    one fixed-order double z, flag on the ROUNDED z_milli vs an
    integer threshold (qb54 discipline).  The every-incident companion
    to qb25's single changepoint."""
    from .operators.temporal import anomalous_days

    e = _t(spark, sf, "events")
    return anomalous_days(e, "ts")


def _qb64_oracle() -> str:
    grams = (
        "SELECT DISTINCT doc_id, w || ' ' || lead_w AS g "
        "FROM (SELECT doc_id, w, "
        "lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS lead_w "
        "FROM (SELECT doc_id, "
        "unnest(string_split(lower(trim("
        r"regexp_replace(text,'\s+',' ','g'))),' ')) AS w, "
        "generate_subscripts(string_split(lower(trim("
        r"regexp_replace(text,'\s+',' ','g'))),' '),1) AS idx "
        "FROM documents)) WHERE lead_w IS NOT NULL"
    )
    return f"""
    WITH grams AS ({grams}),
    tr AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0),
    pn AS (SELECT g FROM (SELECT DISTINCT g FROM grams
                          WHERE doc_id % 2 = 1) p
           WHERE g NOT IN (SELECT g FROM tr)),
    cfg AS (SELECT * FROM (VALUES (12, 2), (12, 4), (16, 4))
                     AS t(log2m, k)),
    js AS (SELECT unnest(generate_series(0, 3)) AS j),
    trc AS (SELECT DISTINCT log2m, k,
                   ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || g),
                                   1, 15))::BIGINT
                     % (CAST(1 AS BIGINT) << log2m) AS cell
            FROM tr CROSS JOIN cfg CROSS JOIN js WHERE j < k),
    st AS (SELECT log2m, k, CAST(count(*) AS BIGINT) AS bits_set
           FROM trc GROUP BY 1, 2),
    ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pn),
    pc AS (SELECT g, log2m, k, j,
                  ('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || g),
                                  1, 15))::BIGINT
                    % (CAST(1 AS BIGINT) << log2m) AS cell
           FROM pn CROSS JOIN cfg CROSS JOIN js WHERE j < k),
    m AS (SELECT pc.log2m, pc.k, g, count(*) AS hits
          FROM pc JOIN trc ON trc.log2m = pc.log2m AND trc.k = pc.k
                          AND trc.cell = pc.cell
          GROUP BY 1, 2, 3),
    fp AS (SELECT log2m, k, CAST(count(*) AS BIGINT) AS n_fp
           FROM m WHERE hits = k GROUP BY 1, 2)
    SELECT CAST(cfg.log2m AS BIGINT) AS log2m,
           CAST(cfg.k AS BIGINT) AS k,
           (SELECT n FROM ntr) AS n_train, st.bits_set,
           CAST(round(st.bits_set * 1000000
                      / (CAST(1 AS BIGINT) << cfg.log2m)) AS BIGINT)
             AS fill_micro,
           (SELECT n FROM nn) AS n_probe_neg,
           CAST(COALESCE(fp.n_fp, 0) AS BIGINT) AS n_fp,
           CASE WHEN (SELECT n FROM nn) > 0 THEN
             CAST(round(COALESCE(fp.n_fp, 0) * 1000000
                        / (SELECT n FROM nn)) AS BIGINT)
           END AS fpr_micro
    FROM cfg JOIN st ON st.log2m = cfg.log2m AND st.k = cfg.k
    LEFT JOIN fp ON fp.log2m = cfg.log2m AND fp.k = cfg.k
    """


@_q("qb64_bloom_fpr", _qb64_oracle())
def qb64(spark, sf):
    """Bloom-filter sizing audit (operators/bloom.py:bloom_fpr_audit):
    measured false-positive rate of the relational k-cell membership
    test for (log2m, k) in {(12,2),(12,4),(16,4)} — train = bigram
    shingles of even docs, probes = odd-doc shingles anti-joined
    against train (true negatives).  One relational plan for all
    configs; cms_cell md5 family verbatim, so the bit pattern is
    engine-identical.  The number that picks m and k before qa04 ships
    a bitmap into a 100 TB scan."""
    from .operators.bloom import bloom_fpr_audit
    from .operators.dedup import shingles_col

    d = _t(spark, sf, "documents")
    si = d.select(
        "doc_id", F.explode(shingles_col(F.col("text"), 2)).alias("g")
    )
    return bloom_fpr_audit(
        si.where(F.col("doc_id") % 2 == 0),
        si.where(F.col("doc_id") % 2 == 1),
        "g",
    )


def _qb65_oracle() -> str:
    """Per-source PII compliance rollup from the SAME pattern table as
    operators/pii.py (q99's injected-PII corpus trick)."""
    from .operators.pii import PII_PATTERNS

    kinds = " UNION ALL ".join(
        f"SELECT source, '{name}' AS kind, "
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS hits "
        "FROM withpii"
        for name, pat, _ in PII_PATTERNS
    )
    return f"""
    WITH withpii AS (
      SELECT doc_id, source,
             text || CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com now'
               WHEN 1 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' srv'
               ELSE ' call +49-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' soon'
             END AS text
      FROM documents),
    k AS ({kinds}),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM withpii GROUP BY 1)
    SELECT k.source, kind,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_affected,
           max(n.n_docs) AS n_docs,
           CAST(round(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                      * 1000000 / max(n.n_docs)) AS BIGINT)
             AS affected_share_micro
    FROM k JOIN n ON n.source = k.source
    GROUP BY 1, 2
    """


@_q("qb65_pii_audit", _qb65_oracle())
def qb65(spark, sf):
    """Per-source PII compliance rollup (operators/pii.py:pii_counts
    over the q99 injected-PII corpus): per (source, kind) the total
    hits, affected docs and affected share — the scrub-coverage report
    a release review signs off on.  Same pattern table as the redactor,
    so the audit can never drift from the scrub; map-only counts + one
    aggregate."""
    from .operators.pii import pii_counts

    d = _t(spark, sf, "documents")
    withpii = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0."),
                    (F.col("doc_id") % 100).cast("string"),
                    F.lit(" srv"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(" call +49-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    F.lit(" soon"),
                )
            ),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    kinds = None
    for name, col in counts.items():
        part = withpii.select(
            "source", F.lit(name).alias("kind"), col.alias("hits")
        )
        kinds = part if kinds is None else kinds.unionByName(part)
    n = withpii.groupBy("source").agg(
        F.count("*").cast("long").alias("_nd")
    )
    return (
        kinds.join(F.broadcast(n), "source")
        .groupBy("source", "kind")
        .agg(
            F.sum("hits").cast("long").alias("total_hits"),
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_affected"),
            F.max("_nd").alias("n_docs"),
            F.round(
                F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
                * F.lit(1_000_000)
                / F.max("_nd")
            )
            .cast("long")
            .alias("affected_share_micro"),
        )
    )


@_q(
    "qb66_grouping_sets",
    """
    SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT)
             AS grouping_id
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
)
def qb66(spark, sf):
    """Arbitrary GROUPING SETS aggregate (beyond q50's rollup / q58's
    cube): the four-set report (source x lang, source, lang, grand
    total) in ONE pass via the native DataFrame groupingSets API —
    Catalyst expands sets inside a single Expand+Aggregate, so the scan
    happens once regardless of set count.  grouping_id distinguishes
    the null-as-aggregated rows from genuine nulls."""
    d = _t(spark, sf, "documents")
    return d.groupingSets(
        [["source", "lang"], ["source"], ["lang"], []],
        "source",
        "lang",
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.grouping("source") * 2 + F.grouping("lang"))
        .cast("long")
        .alias("grouping_id"),
    )


@_q(
    "qb67_theil_sen",
    """
    WITH daily AS (SELECT event_type AS g,
                          epoch_us(ts) // 86400000000 AS day,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1, 2),
    spine AS (SELECT g,
                     CAST(day - min(day) OVER (PARTITION BY g) AS BIGINT)
                       AS d,
                     y
              FROM daily),
    pairs AS (SELECT a.g,
                     CAST(round((b.y - a.y) * 1000 / (b.d - a.d))
                          AS BIGINT) AS s
              FROM spine a JOIN spine b ON a.g = b.g AND a.d < b.d),
    med AS (SELECT g, min(CASE WHEN c * 2 >= n THEN s END)
                     AS ts_slope_milli
            FROM (SELECT g, s,
                         count(*) OVER (PARTITION BY g ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS c,
                         count(*) OVER (PARTITION BY g) AS n
                  FROM pairs)
            GROUP BY g),
    resid AS (SELECT sp.g,
                     CAST(sp.y * 1000 - m.ts_slope_milli * sp.d
                          AS BIGINT) AS r
              FROM spine sp JOIN med m ON sp.g = m.g),
    imed AS (SELECT g, min(CASE WHEN c * 2 >= n THEN r END)
                      AS ts_intercept_milli
             FROM (SELECT g, r,
                          count(*) OVER (PARTITION BY g ORDER BY r
                            ROWS UNBOUNDED PRECEDING) AS c,
                          count(*) OVER (PARTITION BY g) AS n
                   FROM resid)
             GROUP BY g),
    mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(d) AS BIGINT) AS sd,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(d * d) AS BIGINT) AS sdd,
                   CAST(sum(d * y) AS BIGINT) AS sdy
            FROM spine GROUP BY 1),
    ols AS (SELECT g, n_days,
                   CASE WHEN n_days * sdd - sd * sd > 0 THEN
                     CAST(round((n_days * sdy - sd * sy) * 1000
                                / (n_days * sdd - sd * sd)) AS BIGINT)
                   END AS ols_slope_milli
            FROM mom)
    SELECT m.g AS event_type, o.n_days, m.ts_slope_milli,
           i.ts_intercept_milli, o.ols_slope_milli
    FROM med m JOIN imed i ON i.g = m.g JOIN ols o ON o.g = m.g
    """,
)
def qb67(spark, sf):
    """Theil-Sen robust daily trend per event type (operators/
    temporal.py:theil_sen_daily): median of pairwise day-count slopes
    — the 29%-breakdown-point trend next to qa81/qb00's OLS.  Pairs
    come from the calendar-bounded day spine (never raw events);
    per-pair slopes are micro-rounded single divisions, the median is
    the type-1 2*cum>=n rank over those integers (qa79 idiom), and
    the intercept is the residual-level median under the chosen
    slope."""
    from .operators.temporal import theil_sen_daily

    e = _t(spark, sf, "events")
    return theil_sen_daily(e, "ts", "event_type")


@_q(
    "qb68_hour_allocation",
    """
    WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t FROM events),
    m AS (SELECT u, t,
                 CASE WHEN t - lag(t) OVER (PARTITION BY u ORDER BY t)
                        > 1800000000 THEN 1 ELSE 0 END AS nw
          FROM ev),
    s AS (SELECT u, t,
                 sum(nw) OVER (PARTITION BY u ORDER BY t
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM m),
    sess AS (SELECT u, sid, min(t) AS st, max(t) AS en
             FROM s GROUP BY 1, 2),
    hrs AS (SELECT u, sid, st, en,
                   unnest(generate_series(st // 3600000000,
                                          en // 3600000000)) AS h
            FROM sess),
    alloc AS (SELECT CAST(h % 24 AS BIGINT) AS hour_of_day,
                     u * 1000000 + sid AS skey,
                     least(en, (h + 1) * 3600000000)
                       - greatest(st, h * 3600000000) AS micros
              FROM hrs)
    SELECT hour_of_day,
           CAST(count(*) AS BIGINT) AS n_slices,
           CAST(count(DISTINCT skey) AS BIGINT) AS n_sessions,
           CAST(sum(micros) AS BIGINT) AS total_micros
    FROM alloc GROUP BY 1 ORDER BY 1
    """,
)
def qb68(spark, sf):
    """Overlap-weighted session-time allocation onto hours of day
    (operators/temporal.py:time_in_hour_buckets): q24's gap sessions
    split EXACTLY across the hour buckets they span (clip with
    greatest/least in int64 micros), so per-hour totals sum to total
    session time by construction — the usage-billing / load-profile
    primitive.  Only expansion is sequence(start_hour, end_hour) per
    session; no cross join, no doubles anywhere."""
    from .operators.temporal import time_in_hour_buckets

    e = _t(spark, sf, "events")
    return time_in_hour_buckets(e, "ts", "user_id", gap_minutes=30)


@_q(
    "qb69_psi_drift",
    """
    WITH binned AS (SELECT least(n_chars // 100, 9) AS bin,
                           CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END
                             AS cur
                    FROM documents),
    counts AS (SELECT bin, CAST(sum(1 - cur) AS BIGINT) AS cb,
                      CAST(sum(cur) AS BIGINT) AS cc
               FROM binned GROUP BY 1),
    spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
    filled AS (SELECT CAST(s.bin AS BIGINT) AS bin,
                      coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
               FROM spine s LEFT JOIN counts c ON c.bin = s.bin),
    tot AS (SELECT bin, cb, cc,
                   sum(cb) OVER () AS nb, sum(cc) OVER () AS nc
            FROM filled),
    terms AS (SELECT bin, cb AS base_n, cc AS cur_n,
                     CAST(round((cb + 1) * 1000000 / (nb + 10))
                          AS BIGINT) AS sbm,
                     CAST(round((cc + 1) * 1000000 / (nc + 10))
                          AS BIGINT) AS scm,
                     CAST(round(ln(CAST(cb + 1 AS DOUBLE)
                                   * CAST(nc + 10 AS DOUBLE)
                                   / (CAST(cc + 1 AS DOUBLE)
                                      * CAST(nb + 10 AS DOUBLE)))
                                * 1000000) AS BIGINT) AS lr
              FROM tot),
    t2 AS (SELECT bin, base_n, cur_n, sbm AS share_base_micro,
                  scm AS share_cur_micro,
                  CAST(round((sbm - scm) * lr / 1000000) AS BIGINT)
                    AS term_micro
           FROM terms)
    SELECT bin, base_n, cur_n, share_base_micro, share_cur_micro,
           term_micro,
           CAST(sum(term_micro) OVER () AS BIGINT) AS psi_total_micro,
           CAST(CASE WHEN sum(term_micro) OVER () > 250000 THEN 2
                     WHEN sum(term_micro) OVER () > 100000 THEN 1
                     ELSE 0 END AS BIGINT) AS drift_level
    FROM t2
    """,
)
def qb69(spark, sf):
    """Population Stability Index of the doc-length distribution,
    id-parity baseline vs current (operators/stats.py:psi_drift) —
    the binned, Laplace-smoothed drift score feature dashboards alert
    on (0.1/0.25 nat thresholds), next to qa29 KL and qb21 JSD.
    Shares are micro-rounded int64 divisions; ln(p/q) evaluated once
    per bin on a fixed-order double of exact ints; per-bin terms and
    the total stay integer.  Windows run over the 10-row bin spine
    only (bounded)."""
    from .operators.stats import psi_drift

    d = _t(spark, sf, "documents")
    return psi_drift(
        d, "n_chars", F.col("doc_id") % 2 == 1, bin_width=100, n_bins=10
    )


@_q(
    "qb70_fairness_audit",
    """
    WITH base AS (SELECT source AS g,
                         CASE WHEN n_chars >= 600 THEN 1 ELSE 0 END AS p,
                         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                  FROM documents),
    cont AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(p * y) AS BIGINT) AS tp,
                    CAST(sum(p * (1 - y)) AS BIGINT) AS fp,
                    CAST(sum((1 - p) * y) AS BIGINT) AS fn,
                    CAST(sum((1 - p) * (1 - y)) AS BIGINT) AS tn
             FROM base GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn_all,
                   CAST(sum(tp) AS BIGINT) AS ttp,
                   CAST(sum(fp) AS BIGINT) AS tfp,
                   CAST(sum(fn) AS BIGINT) AS tfn,
                   CAST(sum(tn) AS BIGINT) AS ttn
            FROM cont),
    j AS (SELECT * FROM cont CROSS JOIN tot),
    r AS (SELECT g, n, tp, fp, fn, tn,
                 CASE WHEN n > 0 THEN CAST(round((tp + fp) * 1000000
                      / n) AS BIGINT) END AS g_sel,
                 CASE WHEN tp + fn > 0 THEN CAST(round(tp * 1000000
                      / (tp + fn)) AS BIGINT) END AS g_tpr,
                 CASE WHEN fp + tn > 0 THEN CAST(round(fp * 1000000
                      / (fp + tn)) AS BIGINT) END AS g_fpr,
                 CASE WHEN tn_all > 0 THEN CAST(round((ttp + tfp)
                      * 1000000 / tn_all) AS BIGINT) END AS a_sel,
                 CASE WHEN ttp + tfn > 0 THEN CAST(round(ttp * 1000000
                      / (ttp + tfn)) AS BIGINT) END AS a_tpr,
                 CASE WHEN tfp + ttn > 0 THEN CAST(round(tfp * 1000000
                      / (tfp + ttn)) AS BIGINT) END AS a_fpr
          FROM j),
    d AS (SELECT *, CASE WHEN g_sel IS NOT NULL AND a_sel IS NOT NULL
                          AND a_sel > 0
                         THEN CAST(round(g_sel * 1000000 / a_sel)
                                   AS BIGINT) END AS di
          FROM r)
    SELECT g AS source, n, tp, fp, fn, tn,
           g_sel AS sel_rate_micro, g_tpr AS tpr_micro,
           g_fpr AS fpr_micro,
           CAST(g_sel - a_sel AS BIGINT) AS dp_gap_micro,
           CAST(g_tpr - a_tpr AS BIGINT) AS tpr_gap_micro,
           CAST(g_fpr - a_fpr AS BIGINT) AS fpr_gap_micro,
           di AS di_ratio_micro,
           CAST(CASE WHEN di IS NULL THEN NULL
                     WHEN di < 800000 THEN 1 ELSE 0 END AS BIGINT)
             AS di_flag
    FROM d
    """,
)
def qb70(spark, sf):
    """Group-fairness audit (operators/evaluate.py:fairness_audit) of
    the qb19 length-prior classifier with source as the protected
    attribute: per-group selection rate / TPR / FPR, demographic-
    parity and equalized-odds gaps vs the global rates, and the
    four-fifths disparate-impact ratio with its flag — the model-card
    table.  One integer contingency per group, global rates broadcast
    back, micro-rounded single divisions, flags on ROUNDED values."""
    from .operators.evaluate import fairness_audit

    d = _t(spark, sf, "documents")
    return fairness_audit(
        d, F.col("n_chars") >= 600, F.col("lang") == "en", "source"
    )


@_q(
    "qb71_t_closeness",
    """
    WITH base AS (SELECT event_type AS q0,
                         CAST((epoch_us(ts) // 86400000000 + 4) % 7
                              AS BIGINT) AS q1,
                         least(CAST(round(value * 100) AS BIGINT)
                               // 1000, 9) AS b
                  FROM events),
    cells AS (SELECT q0, q1, b, CAST(count(*) AS BIGINT) AS c
              FROM base GROUP BY 1, 2, 3),
    groups AS (SELECT q0, q1, CAST(sum(c) AS BIGINT) AS ng
               FROM cells GROUP BY 1, 2),
    gbuck AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb
              FROM cells GROUP BY 1),
    spine AS (SELECT unnest(generate_series(0, 9)) AS b),
    nall AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    gfull AS (SELECT g.q0, g.q1, g.ng, CAST(s.b AS BIGINT) AS b,
                     coalesce(c.c, 0) AS c
              FROM groups g CROSS JOIN spine s
              LEFT JOIN cells c ON c.q0 = g.q0 AND c.q1 = g.q1
                                AND c.b = s.b),
    afull AS (SELECT CAST(s.b AS BIGINT) AS b, coalesce(gb.cb, 0) AS cb
              FROM spine s LEFT JOIN gbuck gb ON gb.b = s.b),
    cg AS (SELECT q0, q1, ng, b,
                  sum(c) OVER (PARTITION BY q0, q1 ORDER BY b
                    ROWS UNBOUNDED PRECEDING) AS cum_g
           FROM gfull),
    ca AS (SELECT b, sum(cb) OVER (ORDER BY b
             ROWS UNBOUNDED PRECEDING) AS cum_all
           FROM afull),
    emd AS (SELECT q0, q1, max(ng) AS n,
                   CAST(sum(abs(cum_g * (SELECT n FROM nall)
                                - cum_all * ng)) AS BIGINT) AS d
            FROM cg JOIN ca USING (b) GROUP BY 1, 2),
    t AS (SELECT q0, q1, CAST(n AS BIGINT) AS n,
                 CAST(round(CAST(d AS DOUBLE) * 1000000
                      / CAST(n * (SELECT n FROM nall) * 9 AS DOUBLE))
                      AS BIGINT) AS t_micro
          FROM emd)
    SELECT q0 AS event_type, q1 AS dow, n, t_micro,
           CAST(CASE WHEN t_micro > 200000 THEN 1 ELSE 0 END AS BIGINT)
             AS t_flag
    FROM t
    """,
)
def qb71(spark, sf):
    """t-closeness release audit (operators/privacy.py:
    t_closeness_report): per (event_type, day-of-week) quasi-group the
    EMD between its bucketed spend distribution (cents div 1000,
    terminal catch-all) and the global one — catches the leak
    k-anonymity (qa62) misses.  Cumulative comparison cross-multiplied
    into int64 (no per-bucket division), full 10-bucket spine per
    group, ONE terminal micro division in fixed double order, flag on
    the ROUNDED t."""
    from .operators.privacy import t_closeness_report

    e = _t(spark, sf, "events")
    e2 = e.select(
        "event_type",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 + 4) % 7"
        ).alias("dow"),
        F.expr("CAST(round(value * 100) AS LONG) div 1000").alias("_sb"),
    )
    return t_closeness_report(
        e2, ["event_type", "dow"], F.col("_sb"), n_buckets=10
    )


@_q(
    "qb72_seasonal_backtest",
    """
    WITH daily AS (SELECT event_type AS g,
                          epoch_us(ts) // 86400000000 AS day,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1, 2),
    ev AS (SELECT d.g,
                  CAST(abs(d.y - s.y) AS BIGINT) AS es,
                  CAST(abs(d.y - o.y) AS BIGINT) AS e1
           FROM daily d
           JOIN daily s ON s.g = d.g AND s.day = d.day - 7
           JOIN daily o ON o.g = d.g AND o.day = d.day - 1),
    nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY 1),
    agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_eval,
                   CAST(sum(es) AS BIGINT) AS ses,
                   CAST(sum(e1) AS BIGINT) AS se1
            FROM ev GROUP BY 1)
    SELECT nd.g AS event_type, nd.n_days, agg.n_eval,
           CASE WHEN n_eval > 0 THEN
             CAST(round(ses * 1000 / n_eval) AS BIGINT) END AS mae_milli,
           CASE WHEN n_eval > 0 THEN
             CAST(round(se1 * 1000 / n_eval) AS BIGINT)
           END AS naive_mae_milli,
           CASE WHEN se1 > 0 THEN
             CAST(round(ses * 1000000 / se1) AS BIGINT) END AS mase_micro,
           CAST(CASE WHEN se1 > 0 THEN
             CASE WHEN CAST(round(ses * 1000000 / se1) AS BIGINT)
                       < 1000000 THEN 1 ELSE 0 END
           END AS BIGINT) AS beats_naive
    FROM nd JOIN agg ON agg.g = nd.g
    """,
)
def qb72(spark, sf):
    """Seasonal-naive rolling-origin backtest (operators/temporal.py:
    seasonal_naive_backtest): forecast(d) = count(d-7) scored with MAE
    and MASE against the one-step naive — the baseline any forecasting
    model must beat, turning qa64's seasonality into a measured error.
    Calendar self-alignment joins (gap days produce no eval row);
    exact int64 error sums; MASE is one division; beats_naive flags on
    the ROUNDED micro value."""
    from .operators.temporal import seasonal_naive_backtest

    e = _t(spark, sf, "events")
    return seasonal_naive_backtest(e, "ts", "event_type", season_days=7)


def _qb75_oracle(k: int = 10) -> str:
    import math

    L = math.lcm(*range(1, k + 1))
    wt_rows = ", ".join(
        f"({i}, CAST({L // i} AS BIGINT))" for i in range(1, k + 1)
    )
    return f"""
    WITH wt(p, w) AS (VALUES {wt_rows}),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
                 label AS ql
          FROM embeddings WHERE vec_id < 12),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qvec) * 1e6)
                  AS BIGINT) AS cos,
             CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, rel,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS r,
             sum(rel) OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored),
    agg AS (
      SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
             CAST(sum(CASE WHEN r <= {k} AND rel = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel_at_k,
             CAST(sum(CASE WHEN r <= {k} AND rel = 1 THEN cum * w
                           ELSE 0 END) AS BIGINT) AS num
      FROM ranked LEFT JOIN wt ON wt.p = r
      GROUP BY 1)
    SELECT query_id, n_rel, n_rel_at_k,
           CASE WHEN n_rel > 0 THEN
             CAST(round(num * 1000000 / (least(n_rel, {k}) * {L}))
                  AS BIGINT)
           END AS ap_micro
    FROM agg
    """


@_q(
    "qb73_expectations",
    """
    WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS p0,
      CAST(sum(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS p1,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS p2,
      CAST(sum(CASE WHEN n_chars >= 1 AND n_chars <= 10000
                    THEN 1 ELSE 0 END) AS BIGINT) AS p3,
      CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh')
                    THEN 1 ELSE 0 END) AS BIGINT) AS p4,
      CAST(sum(CASE WHEN regexp_matches(source, '^src[0-9]+$')
                    THEN 1 ELSE 0 END) AS BIGINT) AS p5,
      CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END)
           AS BIGINT) AS p6
      FROM documents),
    rules AS (
      SELECT 'r01' AS rule_id, 'doc_id' AS column_name,
             'not_null' AS rule_type, n, p0 AS n_pass FROM a
      UNION ALL SELECT 'r02', 'text', 'not_null', n, p1 FROM a
      UNION ALL SELECT 'r03', 'doc_id', 'unique', n, p2 FROM a
      UNION ALL SELECT 'r04', 'n_chars', 'range', n, p3 FROM a
      UNION ALL SELECT 'r05', 'lang', 'in_set', n, p4 FROM a
      UNION ALL SELECT 'r06', 'source', 'regex', n, p5 FROM a
      UNION ALL SELECT 'r07', 'n_chars', 'expr', n, p6 FROM a)
    SELECT rule_id, column_name, rule_type, n AS n_rows,
           CAST(n_pass AS BIGINT) AS n_pass,
           CASE WHEN n > 0 THEN
             CAST(round(n_pass * 1000000 / n) AS BIGINT)
           END AS pass_micro,
           CAST(CASE WHEN n > 0 THEN
             CASE WHEN CAST(round(n_pass * 1000000 / n) AS BIGINT)
                       >= 1000000 THEN 1 ELSE 0 END
           END AS BIGINT) AS ok
    FROM rules
    """,
)
def qb73(spark, sf):
    """Declarative expectations suite over documents (operators/dq.py:
    expectations_report): seven data-contract rules — not_null x2,
    unique, range, in_set, regex, cross-field expr — ALL evaluated in
    ONE scan (sum(CASE) columns + exact count(DISTINCT) on a single
    hash aggregate, stack-unpivoted to rule rows).  The ingest gate
    pattern: rule count never adds scans.  Shares micro-rounded; ok
    flags on the ROUNDED share (qb54 discipline)."""
    from .operators.dq import expectations_report

    d = _t(spark, sf, "documents")
    rules = [
        {"rule_id": "r01", "column": "doc_id", "type": "not_null"},
        {"rule_id": "r02", "column": "text", "type": "not_null"},
        {"rule_id": "r03", "column": "doc_id", "type": "unique"},
        {
            "rule_id": "r04",
            "column": "n_chars",
            "type": "range",
            "lo": 1,
            "hi": 10000,
        },
        {
            "rule_id": "r05",
            "column": "lang",
            "type": "in_set",
            "values": ["en", "de", "fr", "es", "zh"],
        },
        {
            "rule_id": "r06",
            "column": "source",
            "type": "regex",
            "pattern": "^src[0-9]+$",
        },
        {
            "rule_id": "r07",
            "column": "n_chars",
            "type": "expr",
            "sql": "n_chars = length(text)",
        },
    ]
    return expectations_report(d, rules)


@_q(
    "qb74_raking",
    """
    WITH cur AS (SELECT lang AS r,
                        CAST(substr(source, 4) AS BIGINT) % 3 AS c
                 FROM documents WHERE doc_id % 2 = 1),
    ref AS (SELECT lang AS r,
                   CAST(substr(source, 4) AS BIGINT) % 3 AS c
            FROM documents WHERE doc_id % 2 = 0),
    cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n
              FROM cur GROUP BY 1, 2),
    ncur AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cur),
    nref AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ref),
    rt AS (SELECT r, CAST(round(count(*) * (SELECT n FROM ncur)
                 * 1000000 / (SELECT n FROM nref)) AS BIGINT) AS mr
           FROM ref GROUP BY 1),
    ct AS (SELECT c, CAST(round(count(*) * (SELECT n FROM ncur)
                 * 1000000 / (SELECT n FROM nref)) AS BIGINT) AS mc
           FROM ref GROUP BY 1),
    w0 AS (SELECT cells.r, cells.c, n, coalesce(mr, 0) AS mr,
                  coalesce(mc, 0) AS mc,
                  CAST(1000000 AS BIGINT) AS w
           FROM cells LEFT JOIN rt ON rt.r = cells.r
           LEFT JOIN ct ON ct.c = cells.c),
    a1 AS (SELECT *, sum(n * w) OVER (PARTITION BY r) AS am FROM w0),
    b1 AS (SELECT r, c, n, mr, mc,
                  CASE WHEN am > 0 THEN CAST(round(w * mr / am)
                       AS BIGINT) ELSE w END AS w FROM a1),
    a2 AS (SELECT *, sum(n * w) OVER (PARTITION BY c) AS am FROM b1),
    b2 AS (SELECT r, c, n, mr, mc,
                  CASE WHEN am > 0 THEN CAST(round(w * mc / am)
                       AS BIGINT) ELSE w END AS w FROM a2),
    a3 AS (SELECT *, sum(n * w) OVER (PARTITION BY r) AS am FROM b2),
    b3 AS (SELECT r, c, n, mr, mc,
                  CASE WHEN am > 0 THEN CAST(round(w * mr / am)
                       AS BIGINT) ELSE w END AS w FROM a3),
    a4 AS (SELECT *, sum(n * w) OVER (PARTITION BY c) AS am FROM b3),
    b4 AS (SELECT r, c, n, mr, mc,
                  CASE WHEN am > 0 THEN CAST(round(w * mc / am)
                       AS BIGINT) ELSE w END AS w FROM a4)
    SELECT r AS lang, c AS src_bucket, n, w AS w_micro,
           CAST(sum(n * w) OVER (PARTITION BY r) AS BIGINT)
             AS row_mass_micro,
           CAST(sum(n * w) OVER (PARTITION BY c) AS BIGINT)
             AS col_mass_micro
    FROM b4
    """,
)
def qb74(spark, sf):
    """Raking / iterative proportional fitting (operators/mixing.py:
    raking_weights, 2 unrolled rounds): per-(lang, source-bucket) cell
    weights pulling the odd-doc half's composition onto the even
    half's marginals — the post-stratification mixture corrector.
    All math on the bounded cell grid; micro-mass targets and one
    micro-rounded division per axis per round (qa90/qb05 fixed-round
    discipline)."""
    from .operators.mixing import raking_weights

    d = _t(spark, sf, "documents")
    bucket = F.expr("CAST(substring(source, 4, 10) AS LONG) % 3").alias(
        "src_bucket"
    )
    cur = d.where(F.col("doc_id") % 2 == 1).select("lang", bucket)
    ref = d.where(F.col("doc_id") % 2 == 0).select("lang", bucket)
    return raking_weights(cur, ref, "lang", "src_bucket", rounds=2)


@_q("qb75_average_precision", _qb75_oracle())
def qb75(spark, sf):
    """Average Precision@10 per query of brute-force cosine retrieval
    with binary same-label relevance (operators/evaluate.py:
    average_precision_at_k) — the PR-side ranking metric next to qa65
    ROC-AUC and qa89 NDCG.  Exact by construction: each hit's
    precision@i becomes cumrel_i*(lcm(1..k)/i) in int64, so AP is one
    terminal micro division; windows partitioned per query (qb04
    lesson); try_element_at for the weight table (qa89 ANSI
    lesson)."""
    from .operators.evaluate import average_precision_at_k
    from .operators.similarity import cosine_cols

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_ql"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
            (F.col("label") == F.col("_ql")).cast("long").alias("_rel"),
        )
    )
    return average_precision_at_k(
        scored, "query_id", "vec_id", "_cos", "_rel", k=10
    )


def _qb76_oracle() -> str:
    from .operators.temporal import shapley_lattice

    lat = ", ".join(
        f"('{ch}', CAST({bit} AS BIGINT), CAST({s} AS BIGINT), "
        f"CAST({w} AS BIGINT))"
        for ch, bit, s, w in shapley_lattice(("click", "view", "signup"))
    )
    return f"""
    WITH lat(channel, bit, s, w_num) AS (VALUES {lat}),
    pu AS (SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b0,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b1,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS b2,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
           FROM events GROUP BY 1),
    mt AS (SELECT CAST(b0 + b1 * 2 + b2 * 4 AS BIGINT) AS m,
                  CAST(count(*) AS BIGINT) AS nu,
                  CAST(sum(conv) AS BIGINT) AS nc
           FROM pu GROUP BY 1),
    spine AS (SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT)
                AS sm),
    v AS (SELECT sm AS m,
                 CASE WHEN sum(nu) > 0 THEN
                   CAST(round(sum(nc) * 1000000 / sum(nu)) AS BIGINT)
                 ELSE 0 END AS v
          FROM spine LEFT JOIN mt ON (mt.m & spine.sm) = mt.m
          GROUP BY 1),
    j AS (SELECT channel,
                 w_num * (coalesce(vsc.v, 0) - coalesce(vs.v, 0)) AS term
          FROM lat
          LEFT JOIN v vs ON vs.m = lat.s
          LEFT JOIN v vsc ON vsc.m = (lat.s | lat.bit)),
    cr AS (SELECT channel, CAST(round(sum(term) / 6) AS BIGINT)
                    AS credit_micro
           FROM j GROUP BY 1),
    ex AS (SELECT channel, CAST(sum(nu) AS BIGINT) AS n_users_exposed
           FROM mt CROSS JOIN (SELECT DISTINCT channel, bit FROM lat) cb
           WHERE (m & bit) <> 0 GROUP BY 1)
    SELECT cr.channel,
           CAST(coalesce(ex.n_users_exposed, 0) AS BIGINT)
             AS n_users_exposed,
           credit_micro
    FROM cr LEFT JOIN ex ON ex.channel = cr.channel
    """


@_q("qb76_shapley_attribution", _qb76_oracle())
def qb76(spark, sf):
    """Data-driven Shapley channel attribution (operators/temporal.py:
    shapley_attribution): order-free, interaction-aware credit with
    v(S) = conversion rate of users whose exposure set is contained
    in S (defined for every coalition) — the game-theoretic
    completion of last-touch (qb40), linear (qb42) and time-decay
    (qb77).  One user-level aggregate, then all math on the 2^n-row
    mask table; factorial weights injected into BOTH engines from the
    same shapley_lattice helper; one terminal rounded division by
    n!."""
    from .operators.temporal import shapley_attribution

    e = _t(spark, sf, "events")
    return shapley_attribution(
        e, "user_id", "event_type",
        channels=("click", "view", "signup"),
        conversion_type="purchase",
    )


@_q(
    "qb77_time_decay_attribution",
    """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_id AS id,
             event_type AS t, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    carried AS (
      SELECT u, us, id, t, cents,
             last_value(CASE WHEN t = 'purchase'
                             THEN struct_pack(us := us, id := id,
                                              cents := cents)
                        END IGNORE NULLS)
               OVER (PARTITION BY u ORDER BY us DESC, id DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conv
      FROM base),
    touches AS (
      SELECT u, us, id, t, conv.us AS cus, conv.id AS cid,
             conv.cents AS ccents,
             (CAST(1 AS BIGINT) << CAST(4 - (conv.us - us)
                // 21600000000 AS INT)) AS w
      FROM carried
      WHERE t IN ('click','view','signup') AND conv IS NOT NULL
        AND conv.us - us <= 86400000000),
    sized AS (
      SELECT u, cus, cid, t, ccents, w,
             sum(w) OVER (PARTITION BY u, cus, cid) AS sw,
             count(*) OVER (PARTITION BY u, cus, cid) AS n,
             row_number() OVER (PARTITION BY u, cus, cid
                                ORDER BY us, id) AS pos
      FROM touches),
    fcs AS (
      SELECT t, ccents, n, pos,
             (1000000 * w) // sw AS fc,
             sum((1000000 * w) // sw)
               OVER (PARTITION BY u, cus, cid) AS fcsum
      FROM sized),
    cr AS (
      SELECT t, ccents,
             CASE WHEN pos = n THEN fc + (1000000 - fcsum)
                  ELSE fc END AS credit
      FROM fcs),
    credited AS (
      SELECT t AS touch_type, CAST(credit AS BIGINT) AS credit,
             CAST(ccents * credit AS BIGINT) AS vmicro
      FROM cr),
    journeys AS (
      SELECT DISTINCT u, cus AS jus, cid AS jid FROM touches),
    none_rows AS (
      SELECT 'none' AS touch_type, CAST(1000000 AS BIGINT) AS credit,
             CAST(cents * 1000000 AS BIGINT) AS vmicro
      FROM base b
      WHERE t = 'purchase' AND NOT EXISTS (
        SELECT 1 FROM journeys j
        WHERE j.u = b.u AND j.jus = b.us AND j.jid = b.id)),
    allrows AS (
      SELECT * FROM credited UNION ALL SELECT * FROM none_rows)
    SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit) AS BIGINT) AS credit_micro,
           CAST(sum(vmicro) AS BIGINT) AS value_micro_cents
    FROM allrows GROUP BY 1
    """,
)
def qb77(spark, sf):
    """Time-decay multi-touch attribution (operators/temporal.py:
    time_decay_attribution): journey credit split proportionally to
    2^(-age div half_life) — recency without the last-touch cliff,
    completing the attribution family (qb40/qb42/qb76).  Integer decay
    exponents (bounded by horizon/half_life = 4), floor-division
    shares with the remainder to the most recent touch so every
    conversion conserves exactly 1e6 micro credit; same reversed-carry
    journey shape as qb42, no range join."""
    from .operators.temporal import time_decay_attribution

    e = _t(spark, sf, "events")
    return time_decay_attribution(
        e, "ts", "user_id", "event_type", "value", "event_id",
        conversion_type="purchase",
        touch_types=("click", "view", "signup"),
        horizon_hours=24,
        half_life_hours=6,
    )


@_q(
    "qb78_stickiness",
    """
    WITH ud AS (SELECT DISTINCT user_id AS u,
                       epoch_us(ts) // 86400000000 AS d
                FROM events),
    bounds AS (SELECT max(d) AS hi FROM ud),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
            FROM ud GROUP BY 1),
    wex AS (SELECT DISTINCT u, d + x AS d2
            FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6))
                                AS x)),
    wau AS (SELECT d2 AS d, CAST(count(*) AS BIGINT) AS wau
            FROM wex WHERE d2 <= (SELECT hi FROM bounds) GROUP BY 1),
    mex AS (SELECT DISTINCT u, d + x AS d2
            FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 27))
                                AS x)),
    mau AS (SELECT d2 AS d, CAST(count(*) AS BIGINT) AS mau
            FROM mex WHERE d2 <= (SELECT hi FROM bounds) GROUP BY 1)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INT) AS VARCHAR) AS day,
           dau, wau, mau,
           CAST(round(dau * 1000000 / wau) AS BIGINT) AS dau_wau_micro,
           CAST(round(dau * 1000000 / mau) AS BIGINT) AS dau_mau_micro,
           CAST(round(wau * 1000000 / mau) AS BIGINT) AS wau_mau_micro
    FROM dau JOIN wau USING (d) JOIN mau USING (d)
    """,
)
def qb78(spark, sf):
    """DAU/WAU/MAU engagement panel with stickiness ratios (operators/
    temporal.py:stickiness_daily): EXACT rolling distinct users via the
    forward-explode trick — each distinct (user, day) row covers the
    following window days, so one distinct + one count per day replaces
    a rolling count-distinct; a bounded x28 expansion of the user-day
    table (never raw events), the exact complement to qb46's mergeable
    HLL.  Ratios are micro-rounded single divisions."""
    from .operators.temporal import stickiness_daily

    e = _t(spark, sf, "events")
    return stickiness_daily(e, "ts", "user_id")


@_q(
    "qb79_quantile_normalization",
    """
    WITH base AS (SELECT doc_id AS id, source AS g, n_chars AS v
                  FROM documents),
    ranked AS (SELECT id, g, v,
                      row_number() OVER (PARTITION BY g
                        ORDER BY v, id) AS r,
                      count(*) OVER (PARTITION BY g) AS ng
               FROM base),
    nall AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    hc AS (SELECT v AS hv, CAST(count(*) AS BIGINT) AS c
           FROM base GROUP BY 1),
    hist AS (SELECT hv, c,
                    sum(c) OVER (ORDER BY hv ROWS UNBOUNDED PRECEDING)
                      - c AS cumb
             FROM hc),
    t AS (SELECT id, g, v,
                 ((2 * r - 1) * (SELECT n FROM nall) + 2 * ng - 1)
                   // (2 * ng) AS k
          FROM ranked)
    SELECT t.id AS doc_id, t.g AS source,
           CAST(t.v AS BIGINT) AS n_chars,
           CAST(h.hv AS BIGINT) AS qn_value
    FROM t JOIN hist h ON t.k > h.cumb AND t.k <= h.cumb + h.c
    """,
)
def qb79(spark, sf):
    """Quantile normalization of doc lengths across sources
    (operators/stats.py:quantile_normalization): every source's
    values mapped onto the pooled distribution's matching quantile —
    the batch-effect remover / cross-source feature aligner.  Pure
    int64: mid-rank target k = ceil((2r-1)N/2n_g) by integer div,
    pooled lookup via the distinct-value histogram's cumulative
    counts in a bounded broadcast range join (qb43 idiom) — no global
    row-level sort."""
    from .operators.stats import quantile_normalization

    d = _t(spark, sf, "documents")
    return quantile_normalization(d, "source", "n_chars", "doc_id")


@_q(
    "qb80_lead_lag",
    """
    WITH daily AS (SELECT event_type AS t,
                          epoch_us(ts) // 86400000000 AS d,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events WHERE event_type IN ('click', 'view')
                   GROUP BY 1, 2),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    spine AS (SELECT unnest(generate_series((SELECT lo FROM bounds),
                                            (SELECT hi FROM bounds)))
                AS d),
    a AS (SELECT s.d, coalesce(y, 0) AS xa
          FROM spine s LEFT JOIN daily ON daily.d = s.d
                                       AND daily.t = 'click'),
    b AS (SELECT s.d, coalesce(y, 0) AS xb
          FROM spine s LEFT JOIN daily ON daily.d = s.d
                                       AND daily.t = 'view'),
    lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT)
               AS lag),
    pairs AS (SELECT lag, xa, xb
              FROM a CROSS JOIN lags
              JOIN b ON b.d = a.d + lag),
    mom AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(xa) AS BIGINT) AS sx,
                   CAST(sum(xb) AS BIGINT) AS sy,
                   CAST(sum(xa * xa) AS BIGINT) AS sxx,
                   CAST(sum(xb * xb) AS BIGINT) AS syy,
                   CAST(sum(xa * xb) AS BIGINT) AS sxy
            FROM pairs GROUP BY 1),
    scored AS (SELECT lag, n_days,
                      CASE WHEN n_days * sxx - sx * sx > 0
                            AND n_days * syy - sy * sy > 0 THEN
                        CAST(round(CAST(n_days * sxy - sx * sy
                                        AS DOUBLE) * 1000
                             / (sqrt(CAST(n_days * sxx - sx * sx
                                          AS DOUBLE))
                                * sqrt(CAST(n_days * syy - sy * sy
                                            AS DOUBLE)))) AS BIGINT)
                      END AS r_milli
               FROM mom)
    SELECT lag, n_days, r_milli,
           CAST(CASE WHEN row_number() OVER (
                  ORDER BY r_milli DESC NULLS LAST, lag) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM scored
    """,
)
def qb80(spark, sf):
    """Lead-lag cross-correlation of the click and view daily series
    (operators/temporal.py:lead_lag_correlation): Pearson r at every
    lag in [-7, 7] over the zero-filled calendar spine — the "does A
    lead B" panel extending qa70's ACF.  Int64 moment sums per lag;
    one fixed-order double (each factor cast individually, qb19
    discipline) rounded to milli; is_best flags the ROUNDED max with
    smaller-lag tiebreak.  Windows only over the 15-row lag spine."""
    from .operators.temporal import lead_lag_correlation

    e = _t(spark, sf, "events")
    return lead_lag_correlation(e, "ts", "event_type", "click", "view", 7)


@_q(
    "qb81_growth_accounting",
    """
    WITH uw AS (SELECT DISTINCT user_id AS u,
                       epoch_us(ts) // 604800000000 AS w
                FROM events),
    marked AS (SELECT u, w,
                      lag(w) OVER (PARTITION BY u ORDER BY w) AS prev,
                      lead(w) OVER (PARTITION BY u ORDER BY w) AS nxt,
                      min(w) OVER (PARTITION BY u) AS fst
               FROM uw),
    classes AS (SELECT w, CAST(count(*) AS BIGINT) AS n_active,
                       CAST(sum(CASE WHEN w = fst THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_new,
                       CAST(sum(CASE WHEN prev = w - 1 THEN 1 ELSE 0
                                END) AS BIGINT) AS n_retained,
                       CAST(sum(CASE WHEN w <> fst AND
                                 (prev IS NULL OR prev < w - 1)
                                THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_resurrected
                FROM marked GROUP BY 1),
    hi AS (SELECT max(w) AS hi FROM uw),
    churn AS (SELECT w + 1 AS w, CAST(count(*) AS BIGINT) AS n_churned
              FROM marked
              WHERE w + 1 <= (SELECT hi FROM hi)
                AND (nxt IS NULL OR nxt > w + 1)
              GROUP BY 1)
    SELECT CAST(DATE '1970-01-01' + CAST(c.w * 7 AS INT) AS VARCHAR)
             AS week,
           n_active, n_new, n_retained, n_resurrected,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned,
           CASE WHEN coalesce(n_churned, 0) > 0 THEN
             CAST(round((n_new + n_resurrected) * 1000
                        / n_churned) AS BIGINT)
           END AS quick_ratio_milli
    FROM classes c LEFT JOIN churn ON churn.w = c.w
    """,
)
def qb81(spark, sf):
    """Weekly growth accounting (operators/temporal.py:
    growth_accounting): active users decomposed into new / retained /
    resurrected, churn attributed to the week after last activity,
    quick ratio (new+resurrected)/churned — the standard growth
    decomposition.  One distinct user-week table, per-user lag/lead
    windows, pure integer counts; conservation (active_w = new +
    retained + resurrected and active_{w-1} = retained_w + churned_w)
    pinned by the unit test."""
    from .operators.temporal import growth_accounting

    e = _t(spark, sf, "events")
    return growth_accounting(e, "ts", "user_id")


@_q(
    "qb82_covariate_balance",
    """
    WITH pu AS (SELECT user_id,
                       CASE WHEN substr(md5('cb|' ||
                              CAST(user_id AS VARCHAR)), 1, 1) < '8'
                            THEN 0 ELSE 1 END AS arm,
                       CAST(count(*) AS BIGINT) AS x0,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS x1,
                       CAST(count(DISTINCT event_type) AS BIGINT) AS x2
                FROM events GROUP BY 1, 2),
    wide AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x0) AS BIGINT) AS s0,
                    CAST(sum(x0 * x0) AS BIGINT) AS q0,
                    CAST(sum(x1) AS BIGINT) AS s1,
                    CAST(sum(x1 * x1) AS BIGINT) AS q1,
                    CAST(sum(x2) AS BIGINT) AS s2,
                    CAST(sum(x2 * x2) AS BIGINT) AS q2
             FROM pu GROUP BY 1),
    j AS (SELECT a.n AS n0, a.s0 AS s00, a.q0 AS q00, a.s1 AS s01,
                 a.q1 AS q01, a.s2 AS s02, a.q2 AS q02,
                 b.n AS n1, b.s0 AS s10, b.q0 AS q10, b.s1 AS s11,
                 b.q1 AS q11, b.s2 AS s12, b.q2 AS q12
          FROM (SELECT * FROM wide WHERE arm = 0) a
          CROSS JOIN (SELECT * FROM wide WHERE arm = 1) b),
    rows_ AS (
      SELECT 'n_events' AS covariate, n0, n1, s00 AS s0, q00 AS q0,
             s10 AS s1, q10 AS q1 FROM j
      UNION ALL SELECT 'cents_total', n0, n1, s01, q01, s11, q11 FROM j
      UNION ALL SELECT 'n_types', n0, n1, s02, q02, s12, q12 FROM j),
    m AS (SELECT covariate, n0, n1, s0, q0, s1, q1,
                 CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
                 CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1
          FROM rows_),
    v AS (SELECT *,
                 (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * m0)
                   / (CAST(n0 AS DOUBLE) - 1.0) AS v0,
                 (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * m1)
                   / (CAST(n1 AS DOUBLE) - 1.0) AS v1
          FROM m),
    smd AS (SELECT covariate, n0, n1, s0, s1, m0, m1,
                   CASE WHEN (v0 + v1) / 2.0 > 0 THEN
                     CAST(round((m1 - m0) * 1000.0
                          / sqrt((v0 + v1) / 2.0)) AS BIGINT)
                   END AS smd_milli
            FROM v)
    SELECT covariate, n0, n1,
           CAST(round(s0 * 1000 / n0) AS BIGINT) AS mean0_milli,
           CAST(round(s1 * 1000 / n1) AS BIGINT) AS mean1_milli,
           smd_milli,
           CAST(CASE WHEN smd_milli IS NULL THEN NULL
                     WHEN abs(smd_milli) <= 100 THEN 1 ELSE 0 END
                AS BIGINT) AS balanced
    FROM smd
    """,
)
def qb82(spark, sf):
    """Covariate balance table (operators/stats.py:covariate_balance):
    standardized mean differences between md5-split arms for per-user
    activity covariates, flagged at |SMD| > 0.1 — the pre-analysis
    gate every causal read (qb31 ATE, qb10 DiD) assumes.  One grouped
    aggregate per arm carries ALL covariate moments; SMD is one
    fixed-order double per covariate (qb19 discipline) on exact int64
    moments; flags on ROUNDED milli values."""
    from .operators.stats import covariate_balance

    e = _t(spark, sf, "events")
    pu = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents_total"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    ).select(
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("cb|"), F.col("user_id").cast("string"))),
                1,
                1,
            )
            < "8",
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("arm"),
        "n_events",
        "cents_total",
        "n_types",
    )
    return covariate_balance(
        pu, "arm", ["n_events", "cents_total", "n_types"]
    )


@_q(
    "qb83_rich_club",
    f"""
    WITH {_WORD_EDGES_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst)
              AS b
            FROM edges WHERE src <> dst),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
              SELECT a AS n FROM und UNION ALL SELECT b FROM und)
            GROUP BY 1),
    grid AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS k),
    nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
           FROM deg CROSS JOIN grid WHERE d > k GROUP BY 1),
    ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
           FROM und
           JOIN deg da ON da.n = und.a
           JOIN deg db ON db.n = und.b
           CROSS JOIN grid
           WHERE da.d > k AND db.d > k GROUP BY 1)
    SELECT grid.k,
           CAST(coalesce(nk.n_nodes, 0) AS BIGINT) AS n_nodes,
           CAST(coalesce(ek.n_edges, 0) AS BIGINT) AS n_edges,
           CASE WHEN coalesce(nk.n_nodes, 0) >= 2 THEN
             CAST(round(2000000 * coalesce(ek.n_edges, 0)
                  / (nk.n_nodes * (nk.n_nodes - 1))) AS BIGINT)
           END AS phi_micro
    FROM grid LEFT JOIN nk ON nk.k = grid.k
    LEFT JOIN ek ON ek.k = grid.k
    """,
)
def qb83(spark, sf):
    """Rich-club coefficient curve (operators/graph.py:rich_club) over
    the word co-occurrence graph: density of the degree->k induced
    subgraphs for k in {{1,2,4,8,16}} — "do hubs wire to each other",
    localizing what qa31/qb49's single assortativity number averages
    away.  Undirected dedup, one degree table, broadcast grid,
    single-division micro densities."""
    from .operators.graph import rich_club, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return rich_club(e, "src", "dst", (1, 2, 4, 8, 16))


@_q(
    "qb84_concentration",
    """
    WITH cells AS (SELECT lang AS g, source AS u,
                          CAST(count(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2),
    ranked AS (SELECT g, c, row_number() OVER (PARTITION BY g
                 ORDER BY c DESC, u) AS r
               FROM cells),
    agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_units,
                   CAST(sum(c) AS BIGINT) AS t,
                   CAST(sum(c * c) AS BIGINT) AS cq,
                   CAST(sum(CASE WHEN r = 1 THEN c ELSE 0 END)
                        AS BIGINT) AS t1,
                   CAST(sum(CASE WHEN r <= 3 THEN c ELSE 0 END)
                        AS BIGINT) AS t3
            FROM ranked GROUP BY 1)
    SELECT g AS lang, n_units,
           CAST(round(cq * 1000000 / (t * t)) AS BIGINT) AS hhi_micro,
           CAST(round(t * t * 1000 / cq) AS BIGINT)
             AS effective_n_milli,
           CAST(round(t1 * 1000000 / t) AS BIGINT) AS top1_share_micro,
           CAST(round(t3 * 1000000 / t) AS BIGINT) AS top3_share_micro
    FROM agg
    """,
)
def qb84(spark, sf):
    """Source-concentration panel per language (operators/mixing.py:
    concentration_panel): HHI over source shares, effective source
    count 1/HHI, top-1/top-3 share — the "one source dominates this
    slice" dashboard row next to qb32's Lorenz.  Integer count sums,
    single terminal micro divisions, rank windows over dimension-sized
    partitions."""
    from .operators.mixing import concentration_panel

    d = _t(spark, sf, "documents")
    return concentration_panel(d, "lang", "source")


@_q(
    "qb85_nelson_aalen",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s2 AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l
             FROM s2 GROUP BY 1, 2),
    gm AS (SELECT max(ts) AS g FROM events),
    subj AS (
      SELECT epoch_us(l) - epoch_us(f) AS t,
             (epoch_us(g) - epoch_us(l)) > 1800000000 AS e
      FROM sess CROSS JOIN gm),
    per_t AS (
      SELECT t, CAST(count(*) AS BIGINT) AS a,
             CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM subj GROUP BY t),
    st AS (
      SELECT *,
             CAST(sum(a) OVER () AS BIGINT)
               - CAST(coalesce(sum(a) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n
      FROM per_t),
    tm AS (
      SELECT *,
             CASE WHEN d > 0
                  THEN CAST(round(d * 1000000 / n) AS BIGINT)
                  ELSE 0 END AS h
      FROM st),
    cm AS (
      SELECT *,
             CAST(sum(h) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS ch
      FROM tm)
    SELECT t AS duration, d AS n_events,
           CAST(a - d AS BIGINT) AS n_censored_here, n AS n_at_risk,
           h AS hazard_micro, ch AS cum_hazard_micro
    FROM cm WHERE d > 0
    """,
)
def qb85(spark, sf):
    """Nelson-Aalen cumulative hazard of session lifetimes (operators/
    stats.py:nelson_aalen) on qa67's exact survival setup (gap
    sessions, end-censoring): H(t) = sum d_j/n_j — the additive
    sibling of Kaplan-Meier whose slope reads the hazard shape
    directly.  Each increment is one micro-rounded division per
    distinct event time; the cumulative is an exact integer window
    cumsum over the curve table."""
    from .operators.stats import nelson_aalen

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
        "event_id",
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.select(
            "user_id", "ts", F.sum("new_s").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    )
    gm = e.agg(F.max("ts").alias("g"))
    subj = sess.crossJoin(F.broadcast(gm)).select(
        (
            F.unix_micros(F.col("l").cast("timestamp"))
            - F.unix_micros(F.col("f").cast("timestamp"))
        ).alias("t"),
        (
            F.unix_micros(F.col("g").cast("timestamp"))
            - F.unix_micros(F.col("l").cast("timestamp"))
            > 1_800_000_000
        ).alias("e"),
    )
    return nelson_aalen(subj, "t", "e")


@_q(
    "qb86_simpsons_check",
    """
    WITH base AS (SELECT event_type AS s,
                         CASE WHEN substr(md5('cb|' ||
                                CAST(user_id AS VARCHAR)), 1, 1) < '8'
                              THEN 0 ELSE 1 END AS a,
                         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS y
                  FROM events),
    per AS (SELECT s,
                   CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN a = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS s0,
                   CAST(sum(CASE WHEN a = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS s1
            FROM base GROUP BY 1),
    pooled AS (SELECT '__pooled__' AS s,
                      CAST(sum(n0) AS BIGINT) AS n0,
                      CAST(sum(n1) AS BIGINT) AS n1,
                      CAST(sum(s0) AS BIGINT) AS s0,
                      CAST(sum(s1) AS BIGINT) AS s1
               FROM per),
    allrows AS (SELECT * FROM per UNION ALL SELECT * FROM pooled),
    rated AS (SELECT s, n0, n1,
                     CASE WHEN n0 > 0 THEN
                       CAST(round(s0 * 1000000 / n0) AS BIGINT)
                     END AS rate0_micro,
                     CASE WHEN n1 > 0 THEN
                       CAST(round(s1 * 1000000 / n1) AS BIGINT)
                     END AS rate1_micro,
                     CASE WHEN n0 > 0 AND n1 > 0 THEN
                       CAST(sign(CAST(s1 * n0 - s0 * n1 AS DOUBLE))
                            AS BIGINT)
                     END AS diff_sign
              FROM allrows),
    ps AS (SELECT diff_sign AS p FROM rated WHERE s = '__pooled__'),
    agreed AS (SELECT r.*,
                      CASE WHEN r.diff_sign IS NOT NULL
                            AND (SELECT p FROM ps) IS NOT NULL
                           THEN CASE WHEN r.diff_sign =
                                  (SELECT p FROM ps)
                                THEN 1 ELSE 0 END
                      END AS agrees_with_pooled
               FROM rated r),
    verdict AS (SELECT CAST(CASE WHEN
                   min(coalesce(agrees_with_pooled, 1)) = 0
                   AND max(coalesce(agrees_with_pooled, 0)) = 0
                   AND abs(coalesce((SELECT p FROM ps), 0)) = 1
                 THEN 1 ELSE 0 END AS BIGINT) AS px
                FROM agreed WHERE s <> '__pooled__')
    SELECT s AS event_type, n0, n1, rate0_micro, rate1_micro,
           diff_sign, agrees_with_pooled,
           (SELECT px FROM verdict) AS paradox_flag
    FROM agreed
    """,
)
def qb86(spark, sf):
    """Simpson's-paradox detector (operators/stats.py:simpsons_check):
    pooled vs per-stratum sign of the two-arm rate difference — the
    cheap alarm that says the aggregate read is a composition artifact
    and qb31's stratified ATE must be used.  Signs from
    cross-multiplied int64 (no division); rates micro-rounded; flag
    fires only when NO informative stratum agrees with the pooled
    direction."""
    from .operators.stats import simpsons_check

    e = _t(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("cb|"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit(0),
    ).otherwise(F.lit(1))
    return simpsons_check(
        e.select(
            "event_type", arm.alias("arm"), F.col("value").alias("value")
        ),
        "arm",
        F.col("value") >= 50.0,
        "event_type",
    )


@_q(
    "qb87_mann_kendall",
    """
    WITH daily AS (SELECT event_type AS g,
                          epoch_us(ts) // 86400000000 AS day,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1, 2),
    stab AS (SELECT a.g,
                    CAST(sum(CAST(sign(CAST(b.y - a.y AS DOUBLE))
                             AS BIGINT)) AS BIGINT) AS s_stat
             FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
             GROUP BY 1),
    nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY 1),
    ties AS (SELECT g, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                      AS tiecorr
             FROM (SELECT g, y, CAST(count(*) AS BIGINT) AS t
                   FROM daily GROUP BY 1, 2)
             GROUP BY 1),
    j AS (SELECT nd.g, n_days, s_stat,
                 CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                      - tiecorr AS BIGINT) AS varnum
          FROM nd JOIN stab ON stab.g = nd.g
          JOIN ties ON ties.g = nd.g),
    z AS (SELECT g, n_days, s_stat, varnum,
                 CASE WHEN varnum > 0 AND s_stat > 0 THEN
                        CAST(round(CAST(s_stat - 1 AS DOUBLE)
                             / sqrt(CAST(varnum AS DOUBLE) / 18.0)
                             * 1000.0) AS BIGINT)
                      WHEN varnum > 0 AND s_stat < 0 THEN
                        CAST(round(CAST(s_stat + 1 AS DOUBLE)
                             / sqrt(CAST(varnum AS DOUBLE) / 18.0)
                             * 1000.0) AS BIGINT)
                      WHEN varnum > 0 THEN CAST(0 AS BIGINT)
                 END AS z_milli
          FROM j)
    SELECT g AS event_type, n_days, s_stat, varnum AS var_num_x18,
           z_milli,
           CAST(CASE WHEN z_milli > 1960 THEN 1
                     WHEN z_milli < -1960 THEN -1
                     WHEN z_milli IS NOT NULL THEN 0
                END AS BIGINT) AS trend_flag
    FROM z
    """,
)
def qb87(spark, sf):
    """Mann-Kendall nonparametric trend test per event type
    (operators/temporal.py:mann_kendall): pairwise sign sum over the
    day spine, tie-corrected variance (18-scaled numerator stays
    int64), continuity-corrected z — the distribution-free IS-there-a-
    trend companion to qb67's Theil-Sen HOW-steep.  Flag on the
    ROUNDED z at the 1.96 threshold with direction sign."""
    from .operators.temporal import mann_kendall

    e = _t(spark, sf, "events")
    return mann_kendall(e, "ts", "event_type")


@_q(
    "qb88_evalue",
    """
    WITH base AS (SELECT event_type AS s,
                         CASE WHEN substr(md5('cb|' ||
                                CAST(user_id AS VARCHAR)), 1, 1) < '8'
                              THEN 0 ELSE 1 END AS a,
                         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS y
                  FROM events),
    per AS (SELECT s,
                   CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN a = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS s0,
                   CAST(sum(CASE WHEN a = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS s1
            FROM base GROUP BY 1),
    pooled AS (SELECT '__pooled__' AS s,
                      CAST(sum(n0) AS BIGINT) AS n0,
                      CAST(sum(n1) AS BIGINT) AS n1,
                      CAST(sum(s0) AS BIGINT) AS s0,
                      CAST(sum(s1) AS BIGINT) AS s1
               FROM per),
    allrows AS (SELECT * FROM per UNION ALL SELECT * FROM pooled),
    calc AS (SELECT *,
                    CAST(s1 * n0 AS DOUBLE) / CAST(s0 * n1 AS DOUBLE)
                      AS rr
             FROM allrows),
    ev AS (SELECT *,
                  greatest(rr, 1.0 / rr) AS rrs
           FROM calc)
    SELECT s AS event_type, n0, n1, s0, s1,
           CASE WHEN s0 > 0 AND s1 > 0 AND n0 > 0 AND n1 > 0 THEN
             CAST(round(rr * 1000000.0) AS BIGINT) END AS rr_micro,
           CASE WHEN s0 > 0 AND s1 > 0 AND n0 > 0 AND n1 > 0 THEN
             CAST(round((rrs + sqrt(rrs * (rrs - 1.0))) * 1000000.0)
                  AS BIGINT)
           END AS evalue_micro
    FROM ev
    """,
)
def qb88(spark, sf):
    """E-value confounding-robustness audit (operators/stats.py:
    evalue_confounding) on the qb86 arm/outcome setup: the minimum
    confounder association strength that could explain the observed
    rate ratio away (VanderWeele-Ding) — the honest footnote under
    qb10/qb31's causal reads.  RR from ONE division of
    cross-multiplied int64; fixed-order double E formula; micro
    rounding at the end only."""
    from .operators.stats import evalue_confounding

    e = _t(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("cb|"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit(0),
    ).otherwise(F.lit(1))
    return evalue_confounding(
        e.select("event_type", arm.alias("arm"), "value"),
        "arm",
        F.col("value") >= 50.0,
        "event_type",
    )


def _qb89_oracle() -> str:
    base = ORACLES["qb74_raking"]
    head = base[: base.rindex("SELECT r AS lang")]
    return head + """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n) AS BIGINT) AS n_units,
           CASE WHEN sum(n * w * w) > 0 THEN
             CAST(round(CAST(sum(n * w) AS DOUBLE)
                  * CAST(sum(n * w) AS DOUBLE)
                  / CAST(sum(n * w * w) AS DOUBLE) * 1000.0) AS BIGINT)
           END AS ess_milli,
           CASE WHEN sum(n * w * w) > 0 AND sum(n) > 0 THEN
             CAST(round(CAST(sum(n * w) AS DOUBLE)
                  * CAST(sum(n * w) AS DOUBLE)
                  / CAST(sum(n * w * w) AS DOUBLE) * 1000000.0
                  / CAST(sum(n) AS DOUBLE)) AS BIGINT)
           END AS ess_ratio_micro
    FROM b4
    """


@_q("qb89_kish_ess", _qb89_oracle())
def qb89(spark, sf):
    """Kish effective sample size of the qb74 raking weights
    (operators/stats.py:kish_ess): (sum nw)^2 / (sum nw^2) — how many
    equal-weight rows the reweighted corpus is worth; a ratio far
    below 1 means the bias correction spent most of the sample's
    power.  Composes raking_weights -> kish_ess in one plan; the
    oracle reuses qb74's CTE chain verbatim (single source of truth)
    with the ESS tail."""
    from .operators.mixing import raking_weights
    from .operators.stats import kish_ess

    d = _t(spark, sf, "documents")
    bucket = F.expr("CAST(substring(source, 4, 10) AS LONG) % 3").alias(
        "src_bucket"
    )
    cur = d.where(F.col("doc_id") % 2 == 1).select("lang", bucket)
    ref = d.where(F.col("doc_id") % 2 == 0).select("lang", bucket)
    w = raking_weights(cur, ref, "lang", "src_bucket", rounds=2)
    return kish_ess(w, "n", "w_micro")


@_q(
    "qb90_mantel_haenszel",
    """
    WITH base AS (SELECT event_type AS s,
                         CASE WHEN substr(md5('cb|' ||
                                CAST(user_id AS VARCHAR)), 1, 1) < '8'
                              THEN 0 ELSE 1 END AS a,
                         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS y
                  FROM events),
    per AS (SELECT s,
                   CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN a = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS s0,
                   CAST(sum(CASE WHEN a = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS s1
            FROM base GROUP BY 1),
    terms AS (SELECT s,
                     CAST(round(s1 * n0 * 1000000 / (n0 + n1))
                          AS BIGINT) AS numk,
                     CAST(round(s0 * n1 * 1000000 / (n0 + n1))
                          AS BIGINT) AS denk,
                     n0, n1, s0, s1
              FROM per),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                   CAST(sum(numk) AS BIGINT) AS num_micro_sum,
                   CAST(sum(denk) AS BIGINT) AS den_micro_sum,
                   CAST(sum(n0) AS BIGINT) AS tn0,
                   CAST(sum(n1) AS BIGINT) AS tn1,
                   CAST(sum(s0) AS BIGINT) AS ts0,
                   CAST(sum(s1) AS BIGINT) AS ts1
            FROM terms)
    SELECT n_strata, num_micro_sum, den_micro_sum,
           CASE WHEN den_micro_sum > 0 THEN
             CAST(round(num_micro_sum * 1000000 / den_micro_sum)
                  AS BIGINT) END AS rr_mh_micro,
           CASE WHEN ts0 > 0 AND tn1 > 0 THEN
             CAST(round(CAST(ts1 * tn0 AS DOUBLE) * 1000000.0
                        / CAST(ts0 * tn1 AS DOUBLE)) AS BIGINT)
           END AS crude_rr_micro
    FROM agg
    """,
)
def qb90(spark, sf):
    """Mantel-Haenszel pooled rate ratio (operators/stats.py:
    mantel_haenszel_rr) on the qb86/qb88 setup — the information-
    weighted stratified estimator to USE when the Simpson check
    fires, next to the crude pooled ratio it corrects.  Per-stratum
    terms are micro-rounded single divisions (spec'd fixed-point,
    qa90/qb05 discipline), sums exact int64, one terminal
    division."""
    from .operators.stats import mantel_haenszel_rr

    e = _t(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("cb|"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit(0),
    ).otherwise(F.lit(1))
    return mantel_haenszel_rr(
        e.select("event_type", arm.alias("arm"), "value"),
        "arm",
        F.col("value") >= 50.0,
        "event_type",
    )


@_q(
    "qb91_logrank",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s2 AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l
             FROM s2 GROUP BY 1, 2),
    gm AS (SELECT max(ts) AS g FROM events),
    subj AS (
      SELECT epoch_us(l) - epoch_us(f) AS t,
             (epoch_us(g) - epoch_us(l)) > 1800000000 AS e,
             CASE WHEN substr(md5('cb|' ||
                    CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 0 ELSE 1 END AS grp
      FROM sess CROSS JOIN gm),
    per_t AS (
      SELECT t, CAST(count(*) AS BIGINT) AS a,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a1,
             CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(sum(CASE WHEN e AND grp = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d1
      FROM subj GROUP BY t),
    st AS (
      SELECT t, d, d1,
             CAST(sum(a) OVER () AS BIGINT)
               - CAST(coalesce(sum(a) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n,
             CAST(sum(a1) OVER () AS BIGINT)
               - CAST(coalesce(sum(a1) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n1
      FROM per_t),
    ev AS (SELECT * FROM st WHERE d > 0),
    terms AS (
      SELECT d, d1,
             CAST(round(d * n1 * 1000000 / n) AS BIGINT) AS e1,
             CASE WHEN n > 1 THEN
               CAST(round(CAST(d * n1 * (n - n1) * (n - d) AS DOUBLE)
                    * 1000000.0
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n - 1 AS DOUBLE))) AS BIGINT)
             ELSE 0 END AS v
      FROM ev),
    agg AS (SELECT CAST(sum(d) AS BIGINT) AS n_events_total,
                   CAST(sum(d1) AS BIGINT) AS o1,
                   CAST(sum(e1) AS BIGINT) AS e1_micro,
                   CAST(sum(v) AS BIGINT) AS v_micro
            FROM terms)
    SELECT n_events_total, o1, e1_micro, v_micro,
           CASE WHEN v_micro > 0 THEN
             CAST(round((CAST(o1 AS DOUBLE) * 1000000.0
                         - CAST(e1_micro AS DOUBLE))
                  / sqrt(CAST(v_micro AS DOUBLE) * 1000000.0)
                  * 1000.0) AS BIGINT)
           END AS z_milli,
           CAST(CASE WHEN v_micro > 0 THEN
             CASE WHEN abs(CAST(round((CAST(o1 AS DOUBLE) * 1000000.0
                          - CAST(e1_micro AS DOUBLE))
                   / sqrt(CAST(v_micro AS DOUBLE) * 1000000.0)
                   * 1000.0) AS BIGINT)) > 1960 THEN 1 ELSE 0 END
           END AS BIGINT) AS signif_flag
    FROM agg
    """,
)
def qb91(spark, sf):
    """Two-group log-rank test (operators/stats.py:logrank_test) on
    qa67's session-survival setup with md5-split user arms: observed
    vs expected group-1 deaths under the pooled hazard with
    hypergeometric variance — the inferential completion of KM (qa67)
    and Nelson-Aalen (qb85).  E1 and V micro-rounded once per event
    time (spec'd), sums exact int64, one terminal double z; flag on
    the ROUNDED |z|."""
    from .operators.stats import logrank_test

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
        "event_id",
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.select(
            "user_id", "ts", F.sum("new_s").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    )
    gm = e.agg(F.max("ts").alias("g"))
    subj = sess.crossJoin(F.broadcast(gm)).select(
        (
            F.unix_micros(F.col("l").cast("timestamp"))
            - F.unix_micros(F.col("f").cast("timestamp"))
        ).alias("t"),
        (
            F.unix_micros(F.col("g").cast("timestamp"))
            - F.unix_micros(F.col("l").cast("timestamp"))
            > 1_800_000_000
        ).alias("e"),
        F.when(
            F.substring(
                F.md5(
                    F.concat(F.lit("cb|"), F.col("user_id").cast("string"))
                ),
                1,
                1,
            )
            < "8",
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("grp"),
    )
    return logrank_test(subj, "t", "e", "grp")


@_q(
    "qb92_cramers_v",
    """
    WITH cells AS (SELECT source AS r, lang AS c,
                          CAST(count(*) AS BIGINT) AS o
                   FROM documents GROUP BY 1, 2),
    rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rmv
           FROM cells GROUP BY 1),
    cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS cmv
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT r) AS BIGINT) AS nr,
                   CAST(count(DISTINCT c) AS BIGINT) AS nc
            FROM cells),
    grid AS (SELECT rm.r, rm.rmv, cm.c, cm.cmv FROM rm CROSS JOIN cm),
    filled AS (SELECT g.rmv, g.cmv, coalesce(cells.o, 0) AS o
               FROM grid g LEFT JOIN cells ON cells.r = g.r
                                           AND cells.c = g.c),
    terms AS (SELECT CAST(round(
                       (CAST((SELECT n FROM tot) * o
                             - rmv * cmv AS DOUBLE)
                        * CAST((SELECT n FROM tot) * o
                               - rmv * cmv AS DOUBLE))
                       * 1000000.0
                       / (CAST((SELECT n FROM tot) AS DOUBLE)
                          * CAST(rmv AS DOUBLE) * CAST(cmv AS DOUBLE)))
                       AS BIGINT) AS term
              FROM filled),
    agg AS (SELECT (SELECT n FROM tot) AS n,
                   (SELECT nr FROM tot) AS n_rows_cat,
                   (SELECT nc FROM tot) AS n_cols_cat,
                   CAST(sum(term) AS BIGINT) AS chi2_micro
            FROM terms)
    SELECT n, n_rows_cat, n_cols_cat, chi2_micro,
           CASE WHEN n * (least(n_rows_cat, n_cols_cat) - 1) > 0 THEN
             CAST(round(sqrt(CAST(chi2_micro AS DOUBLE)
                  / (CAST(n * (least(n_rows_cat, n_cols_cat) - 1)
                          AS DOUBLE) * 1000000.0)) * 1000000.0)
                  AS BIGINT)
           END AS v_micro
    FROM agg
    """,
)
def qb92(spark, sf):
    """Cramer's V association between source and language (operators/
    stats.py:cramers_v): the [0,1]-normalized contingency effect size
    qb55's residuals lack.  Full r x c grid (absent cells are real
    zeros), per-cell term micro-rounded once on int64 cross products,
    exact integer chi-square sum, one terminal sqrt."""
    from .operators.stats import cramers_v

    d = _t(spark, sf, "documents")
    return cramers_v(d, "source", "lang")


@_q(
    "qb93_kendall_tau",
    """
    WITH days AS (SELECT user_id AS u,
                         epoch_us(ts) // 86400000000 AS d
                  FROM events),
    bounds AS (SELECT (min(d) + max(d) + 1) // 2 AS split FROM days),
    pu AS (SELECT u,
                  least(CAST(sum(CASE WHEN d < (SELECT split FROM bounds)
                                      THEN 1 ELSE 0 END) AS BIGINT), 19)
                    AS x,
                  least(CAST(sum(CASE WHEN d >= (SELECT split FROM bounds)
                                      THEN 1 ELSE 0 END) AS BIGINT), 19)
                    AS y
           FROM days GROUP BY 1),
    g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n
          FROM pu GROUP BY 1, 2),
    cd AS (SELECT CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                               THEN a.n * b.n ELSE 0 END) AS BIGINT)
                    AS concordant,
                  CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                               THEN a.n * b.n ELSE 0 END) AS BIGINT)
                    AS discordant
           FROM g a CROSS JOIN g b),
    tx AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS tx2 FROM
             (SELECT x, CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY 1)),
    ty AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS ty2 FROM
             (SELECT y, CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY 1)),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells FROM g)
    SELECT tot.n, tot.n_cells, cd.concordant, cd.discordant,
           CASE WHEN CAST(tot.n * (tot.n - 1) - tx.tx2 AS DOUBLE)
                     * CAST(tot.n * (tot.n - 1) - ty.ty2 AS DOUBLE) > 0
                THEN CAST(round(CAST(cd.concordant - cd.discordant
                                     AS DOUBLE) * 2000.0
                     / sqrt(CAST(tot.n * (tot.n - 1) - tx.tx2 AS DOUBLE)
                            * CAST(tot.n * (tot.n - 1) - ty.ty2
                                   AS DOUBLE))) AS BIGINT)
           END AS tau_b_milli
    FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot
    """,
)
def qb93(spark, sf):
    """Kendall tau-b of per-user pre- vs post-period activity
    (operators/stats.py:kendall_tau_b, bucketed grid form): tie-aware
    ordinal association computed entirely from the (x, y) histogram's
    bounded self-join — no row-level pair join, the scale-safe
    complement to qa60's Spearman.  C/D/tie terms exact int64; one
    terminal double (doubled numerator avoids /2)."""
    from .operators.stats import kendall_tau_b

    e = _t(spark, sf, "events")
    days = e.select(
        F.col("user_id").alias("u"),
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
        ).alias("d"),
    )
    bounds = days.agg(
        ((F.min("d") + F.max("d") + 1) / 2).cast("long").alias("split")
    )
    pu = (
        days.crossJoin(F.broadcast(bounds))
        .groupBy("u")
        .agg(
            F.sum((F.col("d") < F.col("split")).cast("long"))
            .cast("long")
            .alias("x"),
            F.sum((F.col("d") >= F.col("split")).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    return kendall_tau_b(pu, "x", "y", max_level=19)


@_q(
    "qb94_word_burstiness",
    """
    WITH toks AS (
      SELECT doc_id AS d,
             unnest(string_split(lower(trim(
               regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
      FROM documents),
    dw AS (SELECT d, w, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE w <> '' GROUP BY 1, 2),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    agg AS (SELECT w, CAST(sum(c) AS BIGINT) AS cf,
                   CAST(count(*) AS BIGINT) AS df1,
                   CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS df2
            FROM dw GROUP BY 1 HAVING count(*) >= 5),
    pr AS (SELECT w, cf, df1, df2,
                  CAST(round(df2 * 1000000 / df1) AS BIGINT)
                    AS p_repeat_micro,
                  CAST(round(df1 * 1000000 / (SELECT n FROM nd))
                       AS BIGINT) AS p_first_micro
           FROM agg)
    SELECT w AS word, cf, df1, df2, p_repeat_micro, p_first_micro,
           CASE WHEN p_first_micro > 0 THEN
             CAST(round(p_repeat_micro * 1000 / p_first_micro)
                  AS BIGINT) END AS lift_milli
    FROM pr
    """,
)
def qb94(spark, sf):
    """Church-Gale word burstiness (operators/stats.py:
    word_burstiness): P(word repeats | appeared) vs its
    first-occurrence rate — content words adapt far beyond Poisson;
    the classic topicality signal tf-idf only proxies.  One tokenize
    + one (doc, word) aggregate; integer document counts,
    micro-rounded single divisions."""
    from .operators.stats import word_burstiness

    d = _t(spark, sf, "documents")
    return word_burstiness(d, "text", min_df=5)


@_q(
    "qb95_absorption",
    """
    WITH tr AS (SELECT user_id AS seq, event_type AS t,
                       lag(event_type) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS f
                FROM events),
    cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
            FROM tr WHERE f IS NOT NULL
              AND f NOT IN ('purchase', 'error')
            GROUP BY 1, 2),
    p AS (SELECT f, t,
                 CAST(sum(n) OVER (PARTITION BY f) AS BIGINT) AS ntot,
                 CAST(round(n * 1000000
                      / sum(n) OVER (PARTITION BY f)) AS BIGINT) AS pp
          FROM cnt),
    r AS (SELECT f, t AS ab, pp AS rr FROM p
          WHERE t IN ('purchase', 'error')),
    q AS (SELECT f AS qf, t AS qt, pp AS qq FROM p
          WHERE t NOT IN ('purchase', 'error')),
    m1 AS (SELECT f, ab, rr AS m FROM r),
    s1 AS (SELECT q.qf AS f, m1.ab,
                  CAST(CAST(sum(q.qq * m1.m) AS BIGINT) // 1000000
                       AS BIGINT) AS qm
           FROM q JOIN m1 ON m1.f = q.qt GROUP BY 1, 2),
    m2 AS (SELECT coalesce(r.f, s1.f) AS f,
                  coalesce(r.ab, s1.ab) AS ab,
                  CAST(coalesce(rr, 0) + coalesce(qm, 0) AS BIGINT) AS m
           FROM r FULL JOIN s1 ON s1.f = r.f AND s1.ab = r.ab),
    s2 AS (SELECT q.qf AS f, m2.ab,
                  CAST(CAST(sum(q.qq * m2.m) AS BIGINT) // 1000000
                       AS BIGINT) AS qm
           FROM q JOIN m2 ON m2.f = q.qt GROUP BY 1, 2),
    m3 AS (SELECT coalesce(r.f, s2.f) AS f,
                  coalesce(r.ab, s2.ab) AS ab,
                  CAST(coalesce(rr, 0) + coalesce(qm, 0) AS BIGINT) AS m
           FROM r FULL JOIN s2 ON s2.f = r.f AND s2.ab = r.ab),
    nout AS (SELECT f AS state, CAST(max(ntot) AS BIGINT) AS n_out
             FROM p GROUP BY 1)
    SELECT m3.f AS state, m3.ab AS absorbing_state, nout.n_out,
           m3.m AS p_absorb_micro
    FROM m3 JOIN nout ON nout.state = m3.f
    """,
)
def qb95(spark, sf):
    """K-step absorption probabilities of the behavior chain
    (operators/dialogue.py:absorption_within_k, k=3): P(reach
    purchase / error within 3 steps) from each transient state —
    M_k = R + Q.M_{k-1} unrolled on the dictionary-sized state
    tables in pure int64 (one truncating div per round, DuckDB //
    bit-parity) — the absorbing completion of qb05's stationary mass
    and qb12's entropy rate."""
    from .operators.dialogue import absorption_within_k

    e = _t(spark, sf, "events")
    return absorption_within_k(
        e, "user_id", "event_type", ("ts", "event_id"),
        absorbing=("purchase", "error"), k=3,
    )


@_q(
    "qb96_wasserstein",
    """
    WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                         CASE WHEN event_type = 'view' THEN 1 ELSE 0
                         END AS b
                  FROM events
                  WHERE event_type IN ('click', 'view')),
    hist AS (SELECT v, CAST(sum(1 - b) AS BIGINT) AS ca,
                    CAST(sum(b) AS BIGINT) AS cb
             FROM base GROUP BY 1),
    cum AS (SELECT v,
                   sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                     AS cuma,
                   sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                     AS cumb,
                   lead(v) OVER (ORDER BY v) - v AS gap
            FROM hist),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb,
                   CAST(count(*) AS BIGINT) AS n_values
            FROM hist),
    d AS (SELECT CAST(sum(abs(cuma * (SELECT nb FROM tot)
                              - cumb * (SELECT na FROM tot)) * gap)
                      AS BIGINT) AS dd
          FROM cum WHERE gap IS NOT NULL)
    SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
           (SELECT n_values FROM tot) AS n_values,
           CASE WHEN (SELECT na FROM tot) > 0
                 AND (SELECT nb FROM tot) > 0 THEN
             CAST(round(CAST(dd AS DOUBLE) * 1000.0
                  / CAST((SELECT na FROM tot) * (SELECT nb FROM tot)
                         AS DOUBLE)) AS BIGINT)
           END AS w1_milli
    FROM d
    """,
)
def qb96(spark, sf):
    """Exact 1-D Wasserstein distance between click and view spend
    distributions (operators/stats.py:wasserstein_1d): the drift
    number WITH UNITS (milli-cents of average mass movement) where KS
    gives a max gap and PSI a binned score.  Cross-multiplied int64
    cumulative gaps weighted by distinct-value spacing, one terminal
    division; window over the histogram spine only."""
    from .operators.stats import wasserstein_1d

    e = _t(spark, sf, "events")
    return wasserstein_1d(
        e.where(F.col("event_type").isin("click", "view")).select(
            F.round(F.col("value") * 100).cast("long").alias("v"),
            "event_type",
        ),
        "v",
        F.col("event_type") == "view",
    )


def _qb97_oracle() -> str:
    acf = ORACLES["qa70_acf"]
    return f"""
    WITH acf AS ({acf})
    SELECT event_type, n_days,
           CASE WHEN acf1_micro IS NOT NULL AND acf2_micro IS NOT NULL
                 AND acf3_micro IS NOT NULL AND n_days > 3 THEN
             CAST(round(CAST(n_days * (n_days + 2)
                  * ((acf1_micro * acf1_micro) // (n_days - 1)
                     + (acf2_micro * acf2_micro) // (n_days - 2)
                     + (acf3_micro * acf3_micro) // (n_days - 3))
                  AS DOUBLE) / 1e9) AS BIGINT)
           END AS q_milli,
           CAST(CASE WHEN acf1_micro IS NOT NULL
                      AND acf2_micro IS NOT NULL
                      AND acf3_micro IS NOT NULL AND n_days > 3 THEN
             CASE WHEN CAST(round(CAST(n_days * (n_days + 2)
                  * ((acf1_micro * acf1_micro) // (n_days - 1)
                     + (acf2_micro * acf2_micro) // (n_days - 2)
                     + (acf3_micro * acf3_micro) // (n_days - 3))
                  AS DOUBLE) / 1e9) AS BIGINT) > 7815
             THEN 1 ELSE 0 END
           END AS BIGINT) AS signif_flag
    FROM acf
    """


@_q("qb97_ljung_box", _qb97_oracle())
def qb97(spark, sf):
    """Ljung-Box whiteness test per event type (operators/temporal.py:
    ljung_box, K=3): Q = n(n+2) sum r_k^2/(n-k) over qa70's
    autocorrelations — the serial-structure gate before trusting
    i.i.d.-assuming monitors.  Truncating-div int64 terms (DuckDB //
    parity; the oracle REUSES qa70's SQL verbatim as a CTE), one
    terminal double, flag on ROUNDED Q vs the injected chi-square
    critical value."""
    from .operators.temporal import ljung_box

    e = _t(spark, sf, "events")
    return ljung_box(e, "event_type", "ts", max_lag=3)


@_q(
    "qb98_runs_test",
    """
    WITH daily AS (SELECT event_type AS t,
                          epoch_us(ts) // 86400000000 AS d,
                          CAST(count(*) AS BIGINT) AS y
                   FROM events GROUP BY 1, 2),
    moves AS (SELECT t, d,
                     y - lag(y) OVER (PARTITION BY t ORDER BY d)
                       AS diff
              FROM daily),
    signed AS (SELECT t, d,
                      CASE WHEN diff > 0 THEN 1 ELSE 0 END AS s
               FROM moves WHERE diff IS NOT NULL AND diff <> 0),
    runs AS (SELECT t, s,
                    CASE WHEN lag(s) OVER (PARTITION BY t ORDER BY d)
                           IS NULL
                          OR lag(s) OVER (PARTITION BY t ORDER BY d)
                           <> s
                         THEN 1 ELSE 0 END AS new_run
             FROM signed),
    agg AS (SELECT t, CAST(count(*) AS BIGINT) AS n_moves,
                   CAST(sum(s) AS BIGINT) AS n_up,
                   CAST(sum(1 - s) AS BIGINT) AS n_down,
                   CAST(sum(new_run) AS BIGINT) AS n_runs
            FROM runs GROUP BY 1),
    z AS (SELECT *,
                 CASE WHEN n_up > 0 AND n_down > 0 AND
                      (2.0 * n_up * n_down)
                      * (2.0 * n_up * n_down - CAST(n_moves AS DOUBLE))
                      / (CAST(n_moves AS DOUBLE)
                         * CAST(n_moves AS DOUBLE)
                         * (CAST(n_moves AS DOUBLE) - 1.0)) > 0 THEN
                   CAST(round((CAST(n_runs AS DOUBLE)
                        - (1.0 + (2.0 * n_up * n_down)
                                 / CAST(n_moves AS DOUBLE)))
                        / sqrt((2.0 * n_up * n_down)
                          * (2.0 * n_up * n_down
                             - CAST(n_moves AS DOUBLE))
                          / (CAST(n_moves AS DOUBLE)
                             * CAST(n_moves AS DOUBLE)
                             * (CAST(n_moves AS DOUBLE) - 1.0)))
                        * 1000.0) AS BIGINT)
                 END AS z_milli
          FROM agg)
    SELECT t AS event_type, n_moves, n_up, n_down, n_runs, z_milli,
           CAST(CASE WHEN z_milli IS NULL THEN NULL
                     WHEN abs(z_milli) > 1960 THEN 1 ELSE 0 END
                AS BIGINT) AS signif_flag
    FROM z
    """,
)
def qb98(spark, sf):
    """Wald-Wolfowitz runs test on daily up/down moves per type
    (operators/temporal.py:runs_test_daily): too few runs = momentum,
    too many = oscillation — the randomness check qb87's monotone MK
    misses.  Integer run/move counts from two lag windows; one
    fixed-order double z; flag on the ROUNDED |z|."""
    from .operators.temporal import runs_test_daily

    e = _t(spark, sf, "events")
    return runs_test_daily(e, "event_type", "ts")


@_q(
    "qb99_odds_ratio",
    """
    WITH base AS (SELECT event_type AS s,
                         CASE WHEN substr(md5('cb|' ||
                                CAST(user_id AS VARCHAR)), 1, 1) < '8'
                              THEN 0 ELSE 1 END AS a,
                         CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS y
                  FROM events),
    per AS (SELECT s,
                   CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN a = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS s0,
                   CAST(sum(CASE WHEN a = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS s1
            FROM base GROUP BY 1),
    cells AS (SELECT *,
                     2 * s1 + 1 AS a2,
                     2 * (n1 - s1) + 1 AS b2,
                     2 * s0 + 1 AS c2,
                     2 * (n0 - s0) + 1 AS d2
              FROM per),
    calc AS (SELECT *,
                    CAST(a2 * d2 AS DOUBLE) / CAST(c2 * b2 AS DOUBLE)
                      AS orr,
                    sqrt(2.0 / CAST(a2 AS DOUBLE)
                         + 2.0 / CAST(b2 AS DOUBLE)
                         + 2.0 / CAST(c2 AS DOUBLE)
                         + 2.0 / CAST(d2 AS DOUBLE)) AS se
             FROM cells),
    ci AS (SELECT s, n0, n1, s0, s1,
                  CAST(round(orr * 1000000.0) AS BIGINT) AS or_micro,
                  CAST(round(exp(ln(orr)
                       - (CAST(1959964 AS DOUBLE) / 1000000.0) * se)
                       * 1000000.0) AS BIGINT) AS ci_lo_micro,
                  CAST(round(exp(ln(orr)
                       + (CAST(1959964 AS DOUBLE) / 1000000.0) * se)
                       * 1000000.0) AS BIGINT) AS ci_hi_micro
           FROM calc)
    SELECT s AS event_type, n0, n1, s0, s1, or_micro, ci_lo_micro,
           ci_hi_micro,
           CAST(CASE WHEN ci_lo_micro > 1000000
                      OR ci_hi_micro < 1000000
                THEN 1 ELSE 0 END AS BIGINT) AS signif_flag
    FROM ci
    """,
)
def qb99(spark, sf):
    """Per-stratum odds ratio with Woolf 95% CI (operators/stats.py:
    odds_ratio_ci) on the qb86/qb88/qb90 setup — the case-control
    effect size completing the two-arm family.  Haldane-Anscombe
    correction in doubled-integer form (every cell enters as 2c+1,
    one shared integer convention); one division for OR, fixed-order
    double ln/sqrt/exp DAG for the CI; flag when the ROUNDED CI
    excludes 1."""
    from .operators.stats import odds_ratio_ci

    e = _t(spark, sf, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("cb|"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit(0),
    ).otherwise(F.lit(1))
    return odds_ratio_ci(
        e.select("event_type", arm.alias("arm"), "value"),
        "arm",
        F.col("value") >= 50.0,
        "event_type",
    )


@_q(
    "qc00_daily_value_bands",
    """
    WITH base AS (SELECT epoch_us(ts) // 86400000000 AS d,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    hist AS (SELECT d, v, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    staged AS (SELECT d, v,
                      sum(c) OVER (PARTITION BY d ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(c) OVER (PARTITION BY d) AS n
               FROM hist),
    agg AS (SELECT d, CAST(max(n) AS BIGINT) AS n_events,
                   CAST(min(CASE WHEN cum * 100 >= 10 * n THEN v END)
                        AS BIGINT) AS p10_cents,
                   CAST(min(CASE WHEN cum * 100 >= 50 * n THEN v END)
                        AS BIGINT) AS p50_cents,
                   CAST(min(CASE WHEN cum * 100 >= 90 * n THEN v END)
                        AS BIGINT) AS p90_cents
            FROM staged GROUP BY 1)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INT) AS VARCHAR) AS day,
           n_events, p10_cents, p50_cents, p90_cents
    FROM agg
    """,
)
def qc00(spark, sf):
    """Daily P10/P50/P90 value bands (operators/temporal.py:
    daily_value_bands): the ops dashboard ribbon — exact type-1
    quantiles per day from per-day cents histograms (q54/qb43 idiom
    partitioned BY DAY, pure integer rank arithmetic, no division,
    no global sort)."""
    from .operators.temporal import daily_value_bands

    e = _t(spark, sf, "events")
    return daily_value_bands(e, "ts", "value")


# ---------------------------------------------------------------------------
# round-4 wave 41: ranking-metric completion + vocabulary richness
# ---------------------------------------------------------------------------


def _retrieval_topk_cte(k: int) -> str:
    """Shared scored/topk CTE body for the embedding-retrieval ranking
    metrics (the qa89 setup verbatim: 12 queries, graded relevance)."""
    return f"""
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
                 label AS ql
          FROM embeddings WHERE vec_id < 12),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qvec) * 1e6)
                  AS BIGINT) AS cos,
             CAST(CASE WHEN e.label = q.ql THEN 2
                       WHEN abs(e.label - q.ql) = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    topk AS (
      SELECT query_id, rel, r FROM (
        SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS r
        FROM scored)
      WHERE r <= {k})"""


def _qc01_oracle(k: int = 5, gmax: int = 2) -> str:
    import math

    base = 1 << gmax
    L = math.lcm(*range(1, k + 1))
    denom = L * base**k

    def num(i: int) -> str:
        arms = " ".join(
            f"WHEN g{i} = {g} THEN {(1 << g) - 1}" for g in range(1, gmax + 1)
        )
        return f"(CASE {arms} ELSE 0 END)"

    g_cols = ", ".join(
        f"coalesce(max(CASE WHEN r = {i} THEN rel END), 0) AS g{i}"
        for i in range(1, k + 1)
    )
    terms = []
    cont = "1"
    for i in range(1, k + 1):
        terms.append(f"{L // i} * {num(i)} * {cont} * {base ** (k - i)}")
        cont = f"{cont} * ({base} - {num(i)})"
    err_num = " + ".join(terms)
    return f"""
    WITH {_retrieval_topk_cte(k)},
    g AS (SELECT query_id, {g_cols} FROM topk GROUP BY 1),
    t AS (SELECT query_id, CAST({err_num} AS BIGINT) AS err_num FROM g),
    per AS (SELECT query_id, err_num,
                   CAST(round(err_num * 1000000 / {denom}) AS BIGINT)
                     AS err_micro
            FROM t)
    SELECT query_id, err_num, err_micro,
           CAST(round(sum(err_micro) OVER () / count(*) OVER ())
                AS BIGINT) AS mean_err_micro
    FROM per
    """


@_q("qc01_err_cascade", _qc01_oracle())
def qc01(spark, sf):
    """Expected Reciprocal Rank@5 of brute-force cosine retrieval with
    graded relevance (operators/evaluate.py:err_at_k) on the qa89
    setup — the cascade-model metric (user stops at the first
    satisfying hit) completing NDCG/AP/RBO.  Dyadic stop
    probabilities make every cascade term an exact int64 (scale
    L*(2^gmax)^k); the per-query pivot is one conditional agg, never
    a corpus window; ONE terminal micro division."""
    from .operators.evaluate import err_at_k
    from .operators.similarity import cosine_cols

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_ql"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
            F.when(F.col("label") == F.col("_ql"), 2)
            .when(F.abs(F.col("label") - F.col("_ql")) == 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 5
    )
    return err_at_k(ranked, "query_id", "rank", "rel", k=5, gmax=2)


def _qc02_oracle(k: int = 10) -> str:
    import math

    L = math.lcm(*range(1, k + 1))
    return f"""
    WITH {_retrieval_topk_cte(k)},
    per AS (SELECT query_id,
                   CAST(min(CASE WHEN rel >= 2 THEN r END) AS BIGINT)
                     AS first_rank
            FROM topk GROUP BY 1),
    rr AS (SELECT query_id, first_rank,
                  CAST(CASE WHEN first_rank IS NULL THEN 0
                            ELSE {L} // first_rank END AS BIGINT)
                    AS rr_num
           FROM per)
    SELECT query_id, first_rank, rr_num,
           CAST(round(sum(rr_num) OVER () * 1000000
                / (count(*) OVER () * {L})) AS BIGINT) AS mrr_micro
    FROM rr
    """


@_q("qc02_mrr", _qc02_oracle())
def qc02(spark, sf):
    """Mean Reciprocal Rank@10 (operators/evaluate.py:mrr_at_k) on the
    qa89 retrieval: first same-label hit position per query — the
    navigational "how deep until the answer" number.  rr_num =
    lcm(1..10)/first_rank is exact int64 (qb75's lcm trick on the
    reciprocal itself); MRR is one terminal micro division; nullable
    first_rank promotes float64 identically in both engines (q22
    precedent)."""
    from .operators.evaluate import mrr_at_k
    from .operators.similarity import cosine_cols

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_ql"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
            F.when(F.col("label") == F.col("_ql"), 2)
            .when(F.abs(F.col("label") - F.col("_ql")) == 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 10
    )
    return mrr_at_k(ranked, "query_id", "rank", "rel", k=10, rel_threshold=2)


@_q(
    "qc03_good_turing",
    """
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split(lower(trim(regexp_replace(
               text, '\\s+', ' ', 'g'))), ' ')) AS w
      FROM documents),
    counts AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
               FROM toks WHERE length(w) > 0 GROUP BY 1, 2),
    per AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS v_types,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n1,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n2
            FROM counts GROUP BY 1)
    SELECT g AS source, n_tokens, v_types,
           n1 AS n1_singletons, n2 AS n2_doubletons,
           CAST(round(n1 * 1000000 / n_tokens) AS BIGINT) AS p0_micro,
           CAST(v_types * 1000000
                + CAST(round(n1 * (n1 - 1) * 1000000 / (2 * (n2 + 1)))
                       AS BIGINT) AS BIGINT) AS chao1_micro,
           CAST(round(n1 * 1000000 / v_types) AS BIGINT)
             AS hapax_share_micro
    FROM per
    """,
)
def qc03(spark, sf):
    """Good-Turing unseen mass + bias-corrected Chao1 richness per
    source (operators/textstats.py:good_turing_richness): p0 = N1/N
    is the probability the NEXT crawled token is a new type; Chao1
    extrapolates total vocabulary from singletons/doubletons — the
    crawl-more vs dedup-harder budget panel next to qb02's Heaps fit.
    Pure int64 count-of-counts; three single micro divisions."""
    from .operators.textstats import good_turing_richness

    d = _t(spark, sf, "documents")
    return good_turing_richness(d, "source", "text")


# ---------------------------------------------------------------------------
# round-4 wave 42: nonparametric k-sample completion
# ---------------------------------------------------------------------------


@_q(
    "qc04_kruskal_wallis",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
    ranked AS (SELECT v, c,
                      2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS dmid,
                      c * c * c - c AS tie
               FROM vc),
    gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ca
           FROM base GROUP BY 1, 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS N FROM base),
    bterms AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
                      CAST(sum(ca * dmid) AS BIGINT) AS r2
               FROM gv JOIN ranked USING (v) GROUP BY 1),
    terms AS (SELECT g, n_a, r2, N,
                     CAST(round(3.0 * r2 * r2 * 1000000
                          / (1.0 * n_a * N * (N + 1))) AS BIGINT) AS s
              FROM bterms CROSS JOIN tot),
    gall AS (SELECT CAST(max(N) AS BIGINT) AS N,
                    CAST(count(*) AS BIGINT) AS k_groups,
                    CAST(sum(s) AS BIGINT) AS S
             FROM terms),
    ties AS (SELECT CAST(sum(tie) AS BIGINT) AS T FROM ranked),
    g2 AS (SELECT N, k_groups, S, T,
                  S / 1000000.0 - 3.0 * (N + 1) AS h
           FROM gall CROSS JOIN ties),
    g3 AS (SELECT N AS n_total, k_groups,
                  CAST(round(h * 1000) AS BIGINT) AS h_milli,
                  CASE WHEN (1.0 * N * N * N - N) > T THEN
                    CAST(round(h / (1.0 - T / (1.0 * N * N * N - N)) * 1000)
                         AS BIGINT)
                  END AS h_tie_milli
           FROM g2)
    SELECT t.g AS event_type, t.n_a, t.r2,
           CAST(round(CAST(t.r2 AS DOUBLE) * 1000000 / (2 * t.n_a))
                AS BIGINT) AS mean_rank2_micro,
           g3.n_total, g3.k_groups, g3.h_milli, g3.h_tie_milli
    FROM terms t CROSS JOIN g3
    """,
)
def qc04(spark, sf):
    """Kruskal-Wallis omnibus H over event types' cents-value
    distributions (operators/stats.py:kruskal_wallis) — the k-group
    gate before qa22's pairwise Mann-Whitney.  Doubled-midrank
    histogram ranks (the only unpartitioned window is the distinct-
    value spine); each group's H contribution is one fixed scalar DAG
    micro-rounded to int64, summed as INTEGERS; tie-corrected H from
    the same T = Σ(t³−t) int64."""
    from .operators.stats import kruskal_wallis

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return kruskal_wallis(e, "event_type", "cents")


@_q(
    "qc05_friedman",
    """
    WITH base AS (SELECT epoch_us(ts) // 86400000000 AS b,
                         event_type AS t,
                         CAST(round(value * 100) AS BIGINT) AS cv
                  FROM events),
    cells AS (SELECT b, t, CAST(sum(cv) AS BIGINT) AS v
              FROM base GROUP BY 1, 2),
    krow AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells),
    complete AS (SELECT b FROM cells GROUP BY 1
                 HAVING count(*) = (SELECT k FROM krow)),
    cc AS (SELECT cells.* FROM cells JOIN complete USING (b)),
    hist AS (SELECT b, v, CAST(count(*) AS BIGINT) AS c
             FROM cc GROUP BY 1, 2),
    dmid AS (SELECT b, v,
                    2 * (sum(c) OVER (PARTITION BY b ORDER BY v) - c)
                      + c + 1 AS dmid
             FROM hist),
    r AS (SELECT t, CAST(count(*) AS BIGINT) AS nb,
                 CAST(sum(dmid) AS BIGINT) AS r2
          FROM cc JOIN dmid USING (b, v) GROUP BY 1),
    gall AS (SELECT CAST(max(nb) AS BIGINT) AS n_blocks,
                    CAST(count(*) AS BIGINT) AS k_treatments,
                    CAST(sum(r2 * r2) AS BIGINT) AS s4
             FROM r),
    g AS (SELECT n_blocks, k_treatments,
                 CAST(round((3.0 * s4
                      / (n_blocks * k_treatments * (k_treatments + 1.0))
                      - 3.0 * n_blocks * (k_treatments + 1)) * 1000)
                      AS BIGINT) AS chi2_milli
          FROM gall)
    SELECT r.t AS event_type, r.r2,
           CAST(round(CAST(r.r2 AS DOUBLE) * 1000000 / (2 * r.nb))
                AS BIGINT) AS mean_rank2_micro,
           g.n_blocks, g.k_treatments, g.chi2_milli
    FROM r CROSS JOIN g
    """,
)
def qc05(spark, sf):
    """Friedman paired k-treatment rank test: do event types differ in
    DAILY cents spend once the day itself is controlled for
    (operators/stats.py:friedman_test)?  Cells are exact int64 daily
    sums; only complete blocks enter; within-block doubled midranks
    (every window PARTITIONED BY day); χ²_F = 3·ΣR2² /(bk(k+1)) −
    3b(k+1) is integer until one terminal scalar DAG."""
    from .operators.stats import friedman_test

    e = _t(spark, sf, "events").select(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias(
            "d"
        ),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return friedman_test(e, "d", "event_type", "cents")


@_q(
    "qc06_cliffs_delta",
    """
    WITH vc AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
                FROM documents GROUP BY 1),
    ranked AS (SELECT v, c, 2 * (sum(c) OVER (ORDER BY v) - c) + c + 1
                      AS dmid
               FROM vc),
    gv AS (SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS ca
           FROM documents GROUP BY 1, 2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    terms AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
                     CAST(sum(ca * dmid) AS BIGINT) AS rsum2
              FROM gv JOIN ranked USING (v) GROUP BY 1),
    d AS (SELECT g AS source, n_a,
                 CAST((SELECT n FROM tot) - n_a AS BIGINT) AS n_b,
                 rsum2 - n_a * (n_a + 1) AS u2
          FROM terms),
    dd AS (SELECT source, n_a, n_b,
                  CASE WHEN n_a > 0 AND n_b > 0 THEN
                    CAST(round(CAST((u2 - n_a * n_b) * 1000000 AS DOUBLE)
                         / (n_a * n_b)) AS BIGINT)
                  END AS delta_micro
           FROM d)
    SELECT source, n_a, n_b, delta_micro,
           CASE WHEN delta_micro IS NULL THEN NULL
                WHEN abs(delta_micro) < 147000 THEN 'negligible'
                WHEN abs(delta_micro) < 330000 THEN 'small'
                WHEN abs(delta_micro) < 474000 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM dd
    """,
)
def qc06(spark, sf):
    """Cliff's delta effect size of each source's document-length
    distribution vs the rest (operators/stats.py:cliffs_delta) —
    delta = 2·AUC−1 from qa22's exact u2 machinery, with the Romano
    magnitude bands compared on the ROUNDED integer so both engines
    classify identically."""
    from .operators.stats import cliffs_delta

    return cliffs_delta(_t(spark, sf, "documents"), "source", "n_chars")


# ---------------------------------------------------------------------------
# round-4 wave 43: attribution completion (Markov removal, Qini, U-shaped)
# ---------------------------------------------------------------------------


def _qc07_oracle(k: int = 4) -> str:
    step = """
    m{i} AS (
      SELECT g.v, g.f,
             CAST(coalesce(rr.p, 0) + coalesce(st.qm, 0) AS BIGINT) AS m
      FROM grid g
      LEFT JOIN rr ON g.v = rr.v AND g.f = rr.f
      LEFT JOIN (
        SELECT qq.v, qq.f,
               CAST(sum(qq.p * m{j}.m) AS BIGINT) // 1000000 AS qm
        FROM qq JOIN m{j} ON qq.v = m{j}.v AND qq.t = m{j}.f
        GROUP BY 1, 2) st ON g.v = st.v AND g.f = st.f),"""
    steps = "".join(step.format(i=i, j=i - 1) for i in range(2, k + 1))
    return f"""
    WITH fp AS (SELECT user_id AS u,
                       min(CASE WHEN event_type = 'purchase' THEN ts END)
                         AS fpts
                FROM events GROUP BY 1),
    tch AS (SELECT e.user_id AS u, e.ts, e.event_id, e.event_type AS ty,
                   fp.fpts
            FROM events e JOIN fp ON e.user_id = fp.u
            WHERE e.event_type IN ('click', 'view', 'signup')
              AND (fp.fpts IS NULL OR e.ts < fp.fpts)),
    seq AS (SELECT u, ty, fpts,
                   lag(ty) OVER (PARTITION BY u ORDER BY ts, event_id)
                     AS prev,
                   lead(ty) OVER (PARTITION BY u ORDER BY ts, event_id)
                     AS nxt
            FROM tch),
    tr AS (
      SELECT coalesce(prev, 'start') AS f, ty AS t FROM seq
      UNION ALL
      SELECT ty AS f,
             CASE WHEN fpts IS NOT NULL THEN 'conv' ELSE 'drop' END AS t
      FROM seq WHERE nxt IS NULL
      UNION ALL
      SELECT 'start' AS f,
             CASE WHEN fpts IS NOT NULL THEN 'conv' ELSE 'drop' END AS t
      FROM fp WHERE u NOT IN (SELECT DISTINCT u FROM tch)),
    cnt AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
    pm AS (SELECT f, t,
                  CAST(round(n * 1000000 / sum(n) OVER (PARTITION BY f))
                       AS BIGINT) AS p
           FROM cnt),
    vlist(v) AS (VALUES ('none'), ('click'), ('view'), ('signup')),
    vp AS (SELECT vlist.v, pm.f, pm.t, pm.p
           FROM vlist CROSS JOIN pm
           WHERE NOT (pm.f = vlist.v OR pm.t = vlist.v)),
    qq AS (SELECT v, f, t, p FROM vp
           WHERE t IN ('click', 'view', 'signup')),
    rr AS (SELECT v, f, p FROM vp WHERE t = 'conv'),
    slist(s) AS (VALUES ('start'), ('click'), ('view'), ('signup')),
    grid AS (SELECT vlist.v, slist.s AS f FROM vlist CROSS JOIN slist),
    m1 AS (SELECT g.v, g.f, CAST(coalesce(rr.p, 0) AS BIGINT) AS m
           FROM grid g LEFT JOIN rr ON g.v = rr.v AND g.f = rr.f),{steps}
    ms AS (SELECT v, m FROM m{k} WHERE f = 'start'),
    pb AS (SELECT m AS p_base FROM ms WHERE v = 'none'),
    outv AS (SELECT v AS channel,
                    (SELECT p_base FROM pb) AS p_base_micro,
                    m AS p_removed_micro
             FROM ms WHERE v <> 'none'),
    re AS (SELECT channel, p_base_micro, p_removed_micro,
                  CASE WHEN p_base_micro > 0 THEN
                    CAST(round(CAST((p_base_micro - p_removed_micro)
                               * 1000000 AS DOUBLE) / p_base_micro)
                         AS BIGINT)
                  END AS removal_effect_micro
           FROM outv),
    sr AS (SELECT CAST(sum(removal_effect_micro) AS BIGINT) AS sre FROM re)
    SELECT channel, p_base_micro, p_removed_micro, removal_effect_micro,
           CASE WHEN (SELECT sre FROM sr) > 0 THEN
             CAST(round(CAST(removal_effect_micro * 1000000 AS DOUBLE)
                  / (SELECT sre FROM sr)) AS BIGINT)
           END AS credit_micro
    FROM re
    """


@_q("qc07_markov_removal", _qc07_oracle())
def qc07(spark, sf):
    """Markov removal-effect attribution (operators/temporal.py:
    markov_removal_attribution) — chain-structure channel credit
    completing last-touch/linear/time-decay/Shapley: the k=4-step
    start-state conversion probability drop when each channel's
    transitions are deleted, micro fixed-point unrolled per round
    (qb95 discipline), removal variants on the dictionary-sized
    transition table."""
    from .operators.temporal import markov_removal_attribution

    return markov_removal_attribution(_t(spark, sf, "events"))


@_q(
    "qc08_qini_curve",
    """
    WITH u AS (SELECT user_id AS uid,
                      CAST(sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END) AS BIGINT) AS s,
                      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS y
               FROM events GROUP BY 1),
    t AS (SELECT s, y,
                 CASE WHEN substring(md5('qini|' || CAST(uid AS VARCHAR)),
                                     1, 8) < '80000000'
                      THEN 1 ELSE 0 END AS tr
          FROM u),
    hist AS (SELECT s, CAST(sum(tr) AS BIGINT) AS nt,
                    CAST(sum(1 - tr) AS BIGINT) AS nc,
                    CAST(sum(tr * y) AS BIGINT) AS yt,
                    CAST(sum((1 - tr) * y) AS BIGINT) AS yc
             FROM t GROUP BY 1),
    cum AS (SELECT s,
                   CAST(sum(nt) OVER w AS BIGINT) AS cum_n_t,
                   CAST(sum(nc) OVER w AS BIGINT) AS cum_n_c,
                   CAST(sum(yt) OVER w AS BIGINT) AS cum_y_t,
                   CAST(sum(yc) OVER w AS BIGINT) AS cum_y_c
            FROM hist WINDOW w AS (ORDER BY s DESC)),
    pts AS (SELECT s, cum_n_t, cum_n_c, cum_y_t, cum_y_c,
                   CASE WHEN cum_n_c > 0 THEN
                     CAST(1000 * cum_y_t
                          - round(CAST(1000 * cum_y_c * cum_n_t AS DOUBLE)
                                  / cum_n_c) AS BIGINT)
                   ELSE CAST(1000 * cum_y_t AS BIGINT) END AS uplift_milli
            FROM cum),
    tz AS (SELECT (cum_n_t - coalesce(lag(cum_n_t) OVER wd, 0))
                  * (uplift_milli + coalesce(lag(uplift_milli) OVER wd, 0))
                    AS tz2
           FROM pts WINDOW wd AS (ORDER BY s DESC)),
    a2 AS (SELECT CAST(sum(tz2) AS BIGINT) AS auqc2_milli FROM tz),
    tot AS (SELECT CAST(sum(tr) AS BIGINT) AS NT,
                   CAST(sum(1 - tr) AS BIGINT) AS NC,
                   CAST(sum(tr * y) AS BIGINT) AS YT,
                   CAST(sum((1 - tr) * y) AS BIGINT) AS YC
            FROM t),
    rand AS (SELECT CAST(NT * (CASE WHEN NC > 0 THEN
                     CAST(1000 * YT - round(CAST(1000 * YC * NT AS DOUBLE)
                          / NC) AS BIGINT)
                   ELSE CAST(1000 * YT AS BIGINT) END) AS BIGINT)
                     AS rand2_milli
             FROM tot)
    SELECT pts.s AS score, pts.cum_n_t, pts.cum_n_c, pts.cum_y_t,
           pts.cum_y_c, pts.uplift_milli,
           a2.auqc2_milli, rand.rand2_milli,
           CAST(a2.auqc2_milli - rand.rand2_milli AS BIGINT) AS qini2_milli
    FROM pts CROSS JOIN a2 CROSS JOIN rand
    """,
)
def qc08(spark, sf):
    """Qini uplift curve of an engagement-targeting score under a
    deterministic 50/50 md5 treatment split (operators/evaluate.py:
    qini_curve): per-user score = click+view count, outcome = any
    purchase; y-axis is exact milli incremental conversions, area
    and random-diagonal doubled-trapezoids are integer sums.  The
    harness counterpart of qb04's correlational decile lift."""
    from .operators.evaluate import qini_curve
    from .operators.split import hash_split_col

    e = _t(spark, sf, "events")
    u = e.groupBy(F.col("user_id")).agg(
        F.sum(
            F.when(F.col("event_type").isin("click", "view"), 1).otherwise(0)
        )
        .cast("long")
        .alias("score"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "_y"
        ),
    )
    u = u.select(
        "score",
        "_y",
        (
            hash_split_col(
                F.col("user_id"), {"treat": 0.5, "control": 0.5}, "qini"
            )
            == "treat"
        ).alias("_tr"),
    )
    return qini_curve(u, "score", "_tr", "_y")


@_q(
    "qc09_position_attribution",
    """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS us, event_id AS id,
             event_type AS t, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    carried AS (
      SELECT u, us, id, t, cents,
             last_value(CASE WHEN t = 'purchase'
                             THEN struct_pack(us := us, id := id,
                                              cents := cents)
                        END IGNORE NULLS)
               OVER (PARTITION BY u ORDER BY us DESC, id DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conv
      FROM base),
    touches AS (
      SELECT u, us, id, t, conv
      FROM carried
      WHERE t IN ('click','view','signup') AND conv IS NOT NULL
        AND conv.us - us <= 86400000000),
    sized AS (
      SELECT t, conv.cents AS ccents,
             count(*) OVER (PARTITION BY u, conv.us, conv.id) AS n,
             row_number() OVER (PARTITION BY u, conv.us, conv.id
                                ORDER BY us, id) AS pos
      FROM touches),
    cr AS (
      SELECT t, ccents,
             CASE WHEN n = 1 THEN 1000000
                  WHEN n = 2 AND pos = 1 THEN 400000
                  WHEN n = 2 THEN 600000
                  WHEN pos = 1 THEN 400000
                  WHEN pos = n
                    THEN 400000 + (200000 - (200000 // (n - 2)) * (n - 2))
                  ELSE 200000 // (n - 2) END AS credit
      FROM sized),
    credited AS (
      SELECT t AS touch_type, CAST(credit AS BIGINT) AS credit,
             CAST(ccents * credit AS BIGINT) AS vmicro
      FROM cr),
    journeys AS (
      SELECT DISTINCT u, conv.us AS jus, conv.id AS jid FROM touches),
    none_rows AS (
      SELECT 'none' AS touch_type, CAST(1000000 AS BIGINT) AS credit,
             CAST(cents * 1000000 AS BIGINT) AS vmicro
      FROM base b
      WHERE t = 'purchase' AND NOT EXISTS (
        SELECT 1 FROM journeys j
        WHERE j.u = b.u AND j.jus = b.us AND j.jid = b.id)),
    allrows AS (
      SELECT * FROM credited UNION ALL SELECT * FROM none_rows)
    SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit) AS BIGINT) AS credit_micro,
           CAST(sum(vmicro) AS BIGINT) AS value_micro_cents
    FROM allrows GROUP BY 1
    """,
)
def qc09(spark, sf):
    """Position-based (U-shaped 40/20/40) multi-touch attribution
    (operators/temporal.py:position_based_attribution): first and
    last touch of each in-horizon journey get 400k micro each, the
    middle pot splits evenly with the remainder to the last touch —
    exact 1e6 conservation per conversion, same reversed-carry
    journey shape as qb42, no range join."""
    from .operators.temporal import position_based_attribution

    return position_based_attribution(_t(spark, sf, "events"))


# ---------------------------------------------------------------------------
# round-4 wave 44: lexical richness + survival area
# ---------------------------------------------------------------------------


@_q(
    "qc10_lexical_concentration",
    """
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split(lower(trim(regexp_replace(
               text, '\\s+', ' ', 'g'))), ' ')) AS w
      FROM documents),
    counts AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c
               FROM toks WHERE length(w) > 0 GROUP BY 1, 2),
    per AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS v_types,
                   CAST(sum(c * c) AS BIGINT) AS sum_c2,
                   CAST(sum(c * (c - 1)) AS BIGINT) AS sd
            FROM counts GROUP BY 1)
    SELECT g AS source, n_tokens, v_types, sum_c2,
           CAST(round(10000.0 * (sum_c2 - n_tokens) * 1000000
                / (1.0 * n_tokens * n_tokens)) AS BIGINT) AS yule_k_micro,
           CASE WHEN n_tokens > 1 THEN
             CAST(round(1000000.0 * sd / (1.0 * n_tokens * (n_tokens - 1)))
                  AS BIGINT)
           END AS simpson_d_micro
    FROM per
    """,
)
def qc10(spark, sf):
    """Yule's K + Simpson's D lexical concentration per source
    (operators/textstats.py:lexical_concentration) — the
    length-invariant repetitiveness constants next to qc03's
    Good-Turing richness; Σc² / Σc(c−1) are exact int64, K and D are
    one fixed scalar DAG each."""
    from .operators.textstats import lexical_concentration

    return lexical_concentration(_t(spark, sf, "documents"), "source")


@_q(
    "qc11_mattr",
    """
    WITH t0 AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(
                     text, '\\s+', ' ', 'g'))), ' ')) AS w,
                   generate_subscripts(string_split(lower(trim(
                     regexp_replace(text, '\\s+', ' ', 'g'))), ' '), 1)
                     AS idx
            FROM documents)
      WHERE length(w) > 0),
    toks AS (SELECT doc_id, w,
                    row_number() OVER (PARTITION BY doc_id ORDER BY idx)
                      AS pos
             FROM t0),
    prevs AS (SELECT doc_id, pos,
                     coalesce(lag(pos) OVER (PARTITION BY doc_id, w
                                             ORDER BY pos), 0) AS prev
              FROM toks),
    lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS L,
                    CAST(count(DISTINCT w) AS BIGINT) AS V
             FROM toks GROUP BY 1),
    contrib AS (SELECT p.doc_id,
                       CAST(sum(greatest(0,
                         least(p.pos, l.L - 24)
                         - greatest(1, p.pos - 24, p.prev + 1) + 1))
                         AS BIGINT) AS tot
                FROM prevs p JOIN lens l USING (doc_id)
                WHERE l.L >= 25 GROUP BY 1)
    SELECT l.doc_id, l.L AS n_tokens, l.V AS n_types,
           CASE WHEN l.L >= 25 THEN CAST(l.L - 24 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS n_windows,
           CASE WHEN l.L >= 25 THEN
             CAST(round(c.tot * 1000000 / (25 * (l.L - 24))) AS BIGINT)
           ELSE CAST(round(l.V * 1000000 / l.L) AS BIGINT)
           END AS mattr_micro
    FROM lens l LEFT JOIN contrib c USING (doc_id)
    """,
)
def qc11(spark, sf):
    """Moving-Average Type-Token Ratio per document, window 25
    (operators/textstats.py:mattr) — length-robust lexical diversity
    with NO per-window work: each occurrence contributes a clamped
    interval of windows where it counts as distinct (qb78
    forward-count idiom), one integer sum + one micro division per
    doc; short docs fall back to plain TTR."""
    from .operators.textstats import mattr

    return mattr(_t(spark, sf, "documents"), "doc_id", "text", 25)


@_q(
    "qc12_rmst",
    """
    WITH km AS ({KM}),
    pts AS (SELECT duration AS t, survival_micro AS s FROM km
            WHERE duration <= 3600000000),
    lagd AS (SELECT t, s, coalesce(lag(s) OVER (ORDER BY t), 1000000) AS sp,
                    coalesce(lag(t) OVER (ORDER BY t), 0) AS tp
             FROM pts),
    a1 AS (SELECT CAST(coalesce(sum(sp * (t - tp)), 0) AS BIGINT) AS area1,
                  CAST(count(*) AS BIGINT) AS n_event_times
           FROM lagd),
    lastp AS (SELECT CAST(coalesce(max_by(s, t), 1000000) AS BIGINT) AS sl,
                     CAST(coalesce(max(t), 0) AS BIGINT) AS tl
              FROM pts)
    SELECT CAST(3600000000 AS BIGINT) AS tau_us, a1.n_event_times,
           CAST(a1.area1 + lastp.sl * (3600000000 - lastp.tl) AS BIGINT)
             AS rmst_us_micro,
           CAST(round(CAST(a1.area1 + lastp.sl * (3600000000 - lastp.tl)
                AS DOUBLE) / 3600000000) AS BIGINT) AS rmst_frac_micro
    FROM a1 CROSS JOIN lastp
    """.replace("{KM}", ORACLES["qa67_kaplan_meier"]),
)
def qc12(spark, sf):
    """Restricted Mean Survival Time of session lifetimes at a 1-hour
    horizon (operators/stats.py:rmst) — area under qa67's hash-exact
    Kaplan-Meier curve as an integer micro-time sum; the oracle wraps
    qa67's SQL verbatim as a CTE (qb97 single-source-of-truth
    idiom)."""
    from .operators.stats import rmst

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0).alias(
            "new_s"
        ),
        "event_id",
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.select(
            "user_id", "ts", F.sum("new_s").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    )
    gm = e.agg(F.max("ts").alias("g"))
    subj = sess.crossJoin(F.broadcast(gm)).select(
        (
            F.unix_micros(F.col("l").cast("timestamp"))
            - F.unix_micros(F.col("f").cast("timestamp"))
        ).alias("t"),
        (
            F.unix_micros(F.col("g").cast("timestamp"))
            - F.unix_micros(F.col("l").cast("timestamp"))
            > 1_800_000_000
        ).alias("e"),
    )
    return rmst(subj, "t", "e", 3_600_000_000)


# ---------------------------------------------------------------------------
# round-4 wave 45: agreement paradox, calibration decomposition, ordered trend
# ---------------------------------------------------------------------------

# Gwet AC1 reuses qa61's rater-panel synthesis + integer marginals verbatim
# (the qb89/qb97 single-source-of-truth surgery idiom): keep every CTE up to
# the final `k AS (` stage, then swap in the AC1 chance term.
_QC14_ORACLE = _QA61_ORACLE.split("    k AS (")[0] + """    q AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cats FROM pc),
    g AS (
      SELECT n_items, CAST(nn / n_items AS BIGINT) AS n_raters, n_cats,
             CAST(s - nn AS DOUBLE)
               / CAST(nn * (CAST(nn / n_items AS BIGINT) - 1) AS DOUBLE)
               AS p_a,
             (1.0 - CAST(t2 AS DOUBLE) / CAST(nn * nn AS DOUBLE))
               / (n_cats - 1) AS p_e
      FROM tot CROSS JOIN ni CROSS JOIN q)
    SELECT n_items, n_raters, n_cats AS n_categories,
           CAST(round(p_a * 1000000) AS BIGINT) AS p_a_micro,
           CAST(round(p_e * 1000000) AS BIGINT) AS p_e_micro,
           CAST(round((p_a - p_e) * 1000000 / (1.0 - p_e)) AS BIGINT)
             AS ac1_micro
    FROM g
"""


@_q(
    "qc13_brier_decomposition",
    """
    WITH ext AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                 FROM documents),
    b AS (
      SELECT CAST(floor((n_chars - ext.mn) * 10 / (ext.mx - ext.mn + 1))
                  AS BIGINT) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents CROSS JOIN ext),
    per0 AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(y) AS BIGINT) AS pos
             FROM b GROUP BY 1),
    per AS (SELECT bin, n, pos,
                   CAST((2 * bin + 1) * 1000000 / 20 AS BIGINT)
                     AS conf_micro,
                   CAST(round(pos * 1000000 / n) AS BIGINT) AS acc_micro
            FROM per0),
    tot0 AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
                    CAST(sum(pos) AS BIGINT) AS ptot
             FROM per),
    tot AS (SELECT ntot, ptot,
                   CAST(round(ptot * 1000000 / ntot) AS BIGINT) AS obar
            FROM tot0),
    terms AS (
      SELECT per.bin,
             CAST(pos * (conf_micro - 1000000) * (conf_micro - 1000000)
                  + (n - pos) * conf_micro * conf_micro AS BIGINT) AS bn,
             CAST(n * (conf_micro - acc_micro) * (conf_micro - acc_micro)
                  AS BIGINT) AS reln,
             CAST(n * (acc_micro - obar) * (acc_micro - obar) AS BIGINT)
               AS resn
      FROM per CROSS JOIN tot),
    sums AS (SELECT CAST(sum(bn) AS BIGINT) AS sb,
                    CAST(sum(reln) AS BIGINT) AS srel,
                    CAST(sum(resn) AS BIGINT) AS sres
             FROM terms),
    g AS (SELECT CAST(round(sb / (ntot * 1000000)) AS BIGINT)
                   AS brier_micro,
                 CAST(round(srel / (ntot * 1000000)) AS BIGINT) AS rel_micro,
                 CAST(round(sres / (ntot * 1000000)) AS BIGINT) AS res_micro,
                 CAST(round(CAST(obar AS DOUBLE) * (1000000 - obar)
                      / 1000000) AS BIGINT) AS unc_micro
          FROM sums CROSS JOIN tot)
    SELECT per.bin, per.n, per.pos, per.conf_micro, per.acc_micro,
           g.brier_micro, g.rel_micro, g.res_micro, g.unc_micro
    FROM per CROSS JOIN g
    """,
)
def qc13(spark, sf):
    """Brier score + Murphy decomposition over qa82's length-as-
    confidence bins (operators/evaluate.py:brier_decomposition):
    REL (miscalibration, recalibratable) vs RES (discrimination) vs
    UNC (base rate) — per-bin int64 micro² numerators, one terminal
    division each."""
    from .operators.evaluate import brier_decomposition

    d = _t(spark, sf, "documents")
    return brier_decomposition(
        d, "n_chars", F.col("lang") == F.lit("en"), n_bins=10
    )


@_q("qc14_gwet_ac1", _QC14_ORACLE)
def qc14(spark, sf):
    """Gwet's AC1 on qa61's exact 3-rater md5-noised panel
    (operators/stats.py:gwet_ac1) — the paradox-resistant agreement
    number next to Fleiss kappa; same integer cell/marginal tables,
    chance term (1 − Σπ²)/(Q−1); oracle reuses qa61's SQL prefix
    verbatim by string surgery."""
    from .operators.stats import gwet_ac1

    d = _t(spark, sf, "documents")
    ratings = d.select(
        F.col("doc_id"), "lang",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("r"),
    )
    h1 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("r"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    h2 = F.conv(
        F.substring(
            F.md5(F.concat_ws(";", F.col("doc_id").cast("string"), F.col("r"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    labeled = ratings.select(
        F.col("doc_id").alias("i"),
        F.when(
            h1 % 5 == 0,
            F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                         (h2 % 3 + 1).cast("int")),
        )
        .otherwise(F.col("lang"))
        .alias("c"),
    )
    return gwet_ac1(labeled, "i", "c")


@_q(
    "qc15_jonckheere",
    """
    WITH base AS (
      SELECT CAST(((epoch_us(ts) // 3600000000) % 24) // 6 AS VARCHAR) AS g,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events),
    gt(g, gi) AS (VALUES ('0', 0), ('1', 1), ('2', 2), ('3', 3)),
    b2 AS (SELECT gi, v FROM base JOIN gt USING (g)),
    vals AS (SELECT DISTINCT v FROM b2),
    gv AS (SELECT gi, v, CAST(count(*) AS BIGINT) AS c
           FROM b2 GROUP BY 1, 2),
    grid AS (SELECT gt.gi, vals.v, coalesce(gv.c, 0) AS c
             FROM vals CROSS JOIN gt
             LEFT JOIN gv ON gv.gi = gt.gi AND gv.v = vals.v),
    cum AS (SELECT gi, v, c,
                   CAST(sum(c) OVER (PARTITION BY gi ORDER BY v) - c
                        AS BIGINT) AS lt
            FROM grid),
    jt AS (SELECT CAST(sum(b.c * (2 * a.lt + a.c)) AS BIGINT) AS jt2
           FROM cum a JOIN cum b ON a.v = b.v AND a.gi < b.gi),
    sizes AS (SELECT gi, CAST(count(*) AS BIGINT) AS n FROM b2 GROUP BY 1),
    mom AS (SELECT CAST(sum(n) AS BIGINT) AS N,
                   CAST(count(*) AS BIGINT) AS k_groups,
                   CAST(sum(n * n) AS BIGINT) AS sn2,
                   CAST(sum(n * n * (2 * n + 3)) AS BIGINT) AS sn23
            FROM sizes)
    SELECT N AS n_total, k_groups, jt2,
           CAST((N * N - sn2) / 2 AS BIGINT) AS e2,
           CAST(round((jt2 - (N * N - sn2) / 2)
                / (2.0 * sqrt((1.0 * N * N * (2 * N + 3) - sn23) / 72.0))
                * 1000) AS BIGINT) AS z_milli
    FROM jt CROSS JOIN mom
    """,
)
def qc15(spark, sf):
    """Jonckheere-Terpstra ordered trend of cents spend across the
    four 6-hour day buckets (operators/stats.py:jonckheere_terpstra)
    — "does spend INCREASE through the day", the ordered alternative
    qc04's omnibus can't see.  JT2 exact int64 from the shared
    distinct-value spine grid; z from the classical no-tie variance,
    one fixed scalar DAG (IEEE sqrt engine-exact)."""
    from .operators.stats import jonckheere_terpstra

    e = _t(spark, sf, "events").select(
        F.expr(
            "CAST(((unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000)"
            " % 24) div 6 AS STRING)"
        ).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return jonckheere_terpstra(e, "bucket", "cents", ("0", "1", "2", "3"))


# ---------------------------------------------------------------------------
# round-4 wave 46: paired binary test + seeded/threshold graph structure
# ---------------------------------------------------------------------------


@_q(
    "qc16_cochran_q",
    """
    WITH cell AS (
      SELECT user_id AS i, event_type AS t, CAST(1 AS BIGINT) AS x
      FROM events WHERE event_type IN ('click', 'view', 'signup')
      GROUP BY 1, 2),
    rows_ AS (SELECT i, CAST(sum(x) AS BIGINT) AS r FROM cell GROUP BY 1),
    rsum AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                    CAST(sum(r) AS BIGINT) AS sr,
                    CAST(sum(r * r) AS BIGINT) AS sr2
             FROM rows_),
    cols AS (SELECT t, CAST(sum(x) AS BIGINT) AS c FROM cell GROUP BY 1),
    csum AS (SELECT CAST(sum(c) AS BIGINT) AS sc,
                    CAST(sum(c * c) AS BIGINT) AS sc2
             FROM cols),
    ct AS (SELECT CAST(max(CASE WHEN t = 'click' THEN c END) AS BIGINT)
                    AS c_click,
                  CAST(max(CASE WHEN t = 'view' THEN c END) AS BIGINT)
                    AS c_view,
                  CAST(max(CASE WHEN t = 'signup' THEN c END) AS BIGINT)
                    AS c_signup
           FROM cols)
    SELECT n_items, CAST(3 AS BIGINT) AS k_treatments,
           c_click, c_view, c_signup,
           CASE WHEN 3 * sr - sr2 > 0 THEN
             CAST(round(CAST(2 * (3 * sc2 - sc * sc) * 1000 AS DOUBLE)
                  / (3 * sr - sr2)) AS BIGINT)
           END AS q_milli
    FROM rsum CROSS JOIN csum CROSS JOIN ct
    """,
)
def qc16(spark, sf):
    """Cochran's Q over the user × channel engagement matrix
    (operators/stats.py:cochran_q): do click/view/signup REACH rates
    differ once the user is controlled for — the paired binary
    completion of Friedman (qc05, ranks) and McNemar (qb14, k=2).
    All terms exact int64; one terminal milli division."""
    from .operators.stats import cochran_q

    e = _t(spark, sf, "events")
    return cochran_q(
        e, "user_id", "event_type", F.lit(True),
        ("click", "view", "signup"),
    )


_QC17_ORACLE = """
    WITH {WE},
    outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    wsm AS (SELECT node, CAST(sum(w) AS BIGINT) AS ws FROM (
        SELECT src AS node, w FROM edges
        UNION ALL SELECT dst, w FROM edges) GROUP BY 1),
    seeds AS (SELECT node FROM wsm ORDER BY ws DESC, node LIMIT 5),
    tagged AS (SELECT n.node, s.node IS NOT NULL AS is_seed
               FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
    r0 AS (SELECT node, is_seed,
                  CAST(CASE WHEN is_seed THEN 200000 ELSE 0 END AS BIGINT)
                    AS r
           FROM tagged),
    it1 AS (
      SELECT t.node, t.is_seed,
             CAST((CASE WHEN t.is_seed THEN 30000 ELSE 0 END)
                  + (85 * coalesce(m.s, 0)) // 100 AS BIGINT) AS r
      FROM tagged t LEFT JOIN (
        SELECT e.dst AS node, sum((p.r * e.w) // o.ow) AS s
        FROM edges e
        JOIN r0 p ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) m USING (node)),
    it2 AS (
      SELECT t.node, t.is_seed,
             CAST((CASE WHEN t.is_seed THEN 30000 ELSE 0 END)
                  + (85 * coalesce(m.s, 0)) // 100 AS BIGINT) AS r
      FROM tagged t LEFT JOIN (
        SELECT e.dst AS node, sum((p.r * e.w) // o.ow) AS s
        FROM edges e
        JOIN it1 p ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) m USING (node)),
    it3 AS (
      SELECT t.node, t.is_seed,
             CAST((CASE WHEN t.is_seed THEN 30000 ELSE 0 END)
                  + (85 * coalesce(m.s, 0)) // 100 AS BIGINT) AS r
      FROM tagged t LEFT JOIN (
        SELECT e.dst AS node, sum((p.r * e.w) // o.ow) AS s
        FROM edges e
        JOIN it2 p ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst) m USING (node))
    SELECT node, r AS ppr_micro, is_seed FROM it3
    ORDER BY r DESC, node LIMIT 20
    """.replace("{WE}", _WORD_EDGES_CTE)

_QC18_ORACLE = """
    WITH RECURSIVE {WE},
    et3 AS (SELECT src, dst FROM edges WHERE w >= 3),
    sym3 AS (SELECT src AS u, dst AS v FROM et3
               UNION SELECT dst, src FROM et3),
    reach3(u, v) AS (
      SELECT u, v FROM sym3
      UNION
      SELECT r.u, e.v FROM reach3 r JOIN sym3 e ON r.v = e.u),
    comp3 AS (SELECT u, least(min(v), u) AS rep
                FROM reach3 GROUP BY u),
    sz3 AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz
              FROM comp3 GROUP BY 1),
    row3 AS (SELECT CAST(3 AS BIGINT) AS threshold,
                      CAST(sum(sz) AS BIGINT) AS n_nodes,
                      (SELECT CAST(count(*) AS BIGINT) FROM et3)
                        AS n_edges,
                      CAST(count(*) AS BIGINT) AS n_components,
                      CAST(max(sz) AS BIGINT) AS giant_size,
                      CAST(round(max(sz) * 1000000
                           / CAST(sum(sz) AS BIGINT)) AS BIGINT)
                        AS giant_frac_micro
               FROM sz3),
    et6 AS (SELECT src, dst FROM edges WHERE w >= 6),
    sym6 AS (SELECT src AS u, dst AS v FROM et6
               UNION SELECT dst, src FROM et6),
    reach6(u, v) AS (
      SELECT u, v FROM sym6
      UNION
      SELECT r.u, e.v FROM reach6 r JOIN sym6 e ON r.v = e.u),
    comp6 AS (SELECT u, least(min(v), u) AS rep
                FROM reach6 GROUP BY u),
    sz6 AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz
              FROM comp6 GROUP BY 1),
    row6 AS (SELECT CAST(6 AS BIGINT) AS threshold,
                      CAST(sum(sz) AS BIGINT) AS n_nodes,
                      (SELECT CAST(count(*) AS BIGINT) FROM et6)
                        AS n_edges,
                      CAST(count(*) AS BIGINT) AS n_components,
                      CAST(max(sz) AS BIGINT) AS giant_size,
                      CAST(round(max(sz) * 1000000
                           / CAST(sum(sz) AS BIGINT)) AS BIGINT)
                        AS giant_frac_micro
               FROM sz6),
    et12 AS (SELECT src, dst FROM edges WHERE w >= 12),
    sym12 AS (SELECT src AS u, dst AS v FROM et12
               UNION SELECT dst, src FROM et12),
    reach12(u, v) AS (
      SELECT u, v FROM sym12
      UNION
      SELECT r.u, e.v FROM reach12 r JOIN sym12 e ON r.v = e.u),
    comp12 AS (SELECT u, least(min(v), u) AS rep
                FROM reach12 GROUP BY u),
    sz12 AS (SELECT rep, CAST(count(*) AS BIGINT) AS sz
              FROM comp12 GROUP BY 1),
    row12 AS (SELECT CAST(12 AS BIGINT) AS threshold,
                      CAST(sum(sz) AS BIGINT) AS n_nodes,
                      (SELECT CAST(count(*) AS BIGINT) FROM et12)
                        AS n_edges,
                      CAST(count(*) AS BIGINT) AS n_components,
                      CAST(max(sz) AS BIGINT) AS giant_size,
                      CAST(round(max(sz) * 1000000
                           / CAST(sum(sz) AS BIGINT)) AS BIGINT)
                        AS giant_frac_micro
               FROM sz12)
    SELECT * FROM row3
    UNION ALL
    SELECT * FROM row6
    UNION ALL
    SELECT * FROM row12
    """.replace("{WE}", _WORD_EDGES_CTE)


@_q("qc17_personalized_pagerank", _QC17_ORACLE)
def qc17(spark, sf):
    """Personalized PageRank from the 5 highest-weight words of the
    co-occurrence graph (operators/graph.py:personalized_pagerank) —
    seed-localized importance for retrieval expansion, vs q90's
    global PageRank: restart mass to seeds only, exact integer
    fixed-point (contrib div, damping div 100), 3 unrolled
    iterations, top-20 by (rank, node) via TakeOrdered."""
    from .operators.graph import personalized_pagerank, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return personalized_pagerank(
        e, "src", "dst", "weight", n_seeds=5, iterations=3, top_k=20
    )


@_q("qc18_percolation", _QC18_ORACLE)
def qc18(spark, sf):
    """Giant-component percolation curve of the word co-occurrence
    graph at weight thresholds 3/6/12 (operators/graph.py:
    percolation_sweep): per threshold the engine's iterative CC
    (q64-verified min-label path) vs an independent WITH RECURSIVE
    closure per threshold in the oracle — the robustness panel that
    shows where the graph falls apart."""
    from .operators.graph import percolation_sweep, word_cooccur_edges

    d = _t(spark, sf, "documents")
    e = word_cooccur_edges(d, "text", min_count=3)
    return percolation_sweep(e, "src", "dst", "weight", (3, 6, 12))


# ---------------------------------------------------------------------------
# round-4 wave 47: retrieval diversity + paired-model inference
# ---------------------------------------------------------------------------


@_q(
    "qc20_intra_list_diversity",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
               FROM embeddings WHERE vec_id < 12),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qvec) * 1e6)
                  AS BIGINT) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS r
        FROM scored)
      WHERE r <= 10),
    pairs AS (
      SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib
      FROM topk a JOIN topk b
        ON a.query_id = b.query_id AND a.vec_id < b.vec_id),
    pc AS (
      SELECT p.query_id,
             CAST(round(list_cosine_similarity(ea.embedding::DOUBLE[],
                  eb.embedding::DOUBLE[]) * 1e6) AS BIGINT) AS cos
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.ia
      JOIN embeddings eb ON eb.vec_id = p.ib),
    per AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(1000000 - cos) AS BIGINT) AS dist
            FROM pc GROUP BY 1),
    per2 AS (SELECT query_id, n_pairs,
                    CAST(round(dist / n_pairs) AS BIGINT) AS ild_micro
             FROM per),
    g AS (SELECT CAST(round(sum(ild_micro) / count(*)) AS BIGINT)
                   AS mean_ild_micro
          FROM per2)
    SELECT per2.query_id, per2.n_pairs, per2.ild_micro, g.mean_ild_micro
    FROM per2 CROSS JOIN g
    """,
)
def qc20(spark, sf):
    """Intra-List Diversity of the brute-force top-10 retrieval on the
    qa89 query set (operators/similarity.py:intra_list_diversity) —
    mean pairwise cosine distance inside each result list, the
    redundancy gauge MMR (qa77) optimizes; k(k−1)/2 pairs per query,
    never a corpus product, pair cosines micro-rounded once."""
    from .operators.similarity import cosine_cols, intra_list_diversity

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id")
    )
    return intra_list_diversity(topk, e, "query_id", "vec_id")


@_q(
    "qc21_delong_auc",
    """
    WITH base AS (
      SELECT doc_id AS id, n_chars AS a,
             len(list_filter(string_split(lower(trim(regexp_replace(
               text, '\\s+', ' ', 'g'))), ' '),
               w -> length(w) > 0)) AS b,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    hista AS (SELECT a AS v, CAST(sum(y) AS BIGINT) AS np,
                     CAST(sum(1 - y) AS BIGINT) AS nn
              FROM base GROUP BY 1),
    tpa AS (SELECT CAST(sum(np) AS BIGINT) AS tp FROM hista),
    spinea AS (SELECT v,
                      CAST(sum(np) OVER (ORDER BY v) - np AS BIGINT) AS ltp,
                      CAST(sum(nn) OVER (ORDER BY v) - nn AS BIGINT) AS ltn,
                      np, nn, (SELECT tp FROM tpa) AS tp
               FROM hista),
    pa AS (SELECT base.id,
                  CAST(CASE WHEN y = 1 THEN 2 * ltn + nn
                       ELSE 2 * (tp - ltp - np) + np END AS BIGINT) AS pa2
           FROM base JOIN spinea ON base.a = spinea.v),
    histb AS (SELECT b AS v, CAST(sum(y) AS BIGINT) AS np,
                     CAST(sum(1 - y) AS BIGINT) AS nn
              FROM base GROUP BY 1),
    tpb AS (SELECT CAST(sum(np) AS BIGINT) AS tp FROM histb),
    spineb AS (SELECT v,
                      CAST(sum(np) OVER (ORDER BY v) - np AS BIGINT) AS ltp,
                      CAST(sum(nn) OVER (ORDER BY v) - nn AS BIGINT) AS ltn,
                      np, nn, (SELECT tp FROM tpb) AS tp
               FROM histb),
    pb AS (SELECT base.id,
                  CAST(CASE WHEN y = 1 THEN 2 * ltn + nn
                       ELSE 2 * (tp - ltp - np) + np END AS BIGINT) AS pb2
           FROM base JOIN spineb ON base.b = spineb.v),
    items AS (SELECT base.id, base.y, pa.pa2, pb.pb2
              FROM base JOIN pa USING (id) JOIN pb USING (id)),
    mom AS (SELECT y, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pa2) AS BIGINT) AS sa,
                   CAST(sum(pb2) AS BIGINT) AS sb,
                   CAST(sum(pa2 * pa2) AS BIGINT) AS saa,
                   CAST(sum(pb2 * pb2) AS BIGINT) AS sbb,
                   CAST(sum(pa2 * pb2) AS BIGINT) AS sab
            FROM items GROUP BY 1),
    pos AS (SELECT n AS n_pos, sa AS SA2, sb AS SB2, saa AS SAA,
                   sbb AS SBB, sab AS SAB
            FROM mom WHERE y = 1),
    neg AS (SELECT n AS n_neg, sa AS TA2, sb AS TB2, saa AS TAA,
                   sbb AS TBB, sab AS TAB
            FROM mom WHERE y = 0),
    calc1 AS (
      SELECT n_pos, n_neg,
             SA2 / (2.0 * n_pos * n_neg) AS auc_a,
             SB2 / (2.0 * n_pos * n_neg) AS auc_b,
             SAA - CAST(SA2 AS DOUBLE) * SA2 / n_pos AS c10aa,
             SBB - CAST(SB2 AS DOUBLE) * SB2 / n_pos AS c10bb,
             SAB - CAST(SA2 AS DOUBLE) * SB2 / n_pos AS c10ab,
             TAA - CAST(TA2 AS DOUBLE) * TA2 / n_neg AS c01aa,
             TBB - CAST(TB2 AS DOUBLE) * TB2 / n_neg AS c01bb,
             TAB - CAST(TA2 AS DOUBLE) * TB2 / n_neg AS c01ab
      FROM pos CROSS JOIN neg),
    calc2 AS (
      SELECT n_pos, n_neg, auc_a, auc_b,
             (c10aa + c10bb - 2 * c10ab)
               / (4.0 * n_neg * n_neg * (n_pos - 1)) AS s10,
             (c01aa + c01bb - 2 * c01ab)
               / (4.0 * n_pos * n_pos * (n_neg - 1)) AS s01
      FROM calc1)
    SELECT n_pos, n_neg,
           CAST(round(auc_a * 1000000) AS BIGINT) AS auc_a_micro,
           CAST(round(auc_b * 1000000) AS BIGINT) AS auc_b_micro,
           CAST(round((auc_a - auc_b) * 1000000) AS BIGINT) AS delta_micro,
           CASE WHEN n_pos > 1 AND n_neg > 1
                     AND (s10 / n_pos + s01 / n_neg) > 0 THEN
             CAST(round((auc_a - auc_b)
                  / sqrt(s10 / n_pos + s01 / n_neg) * 1000) AS BIGINT)
           END AS z_milli
    FROM calc2
    """,
)
def qc21(spark, sf):
    """DeLong paired AUC comparison of char-length vs word-count as
    is-English rankers (operators/evaluate.py:delong_auc_test) — the
    placement-value z-test with NO pairwise join: per-score
    distinct-value spines carry doubled placements (qa22 midrank
    idiom), ten int64 moments, one fixed scalar DAG for the
    covariance-corrected variance and z."""
    from .operators.evaluate import delong_auc_test
    from .operators.textstats import words_col

    d = _t(spark, sf, "documents")
    d2 = d.select(
        "doc_id",
        F.col("n_chars").alias("_sa"),
        F.size(words_col(F.col("text"))).cast("long").alias("_sb"),
        (F.col("lang") == F.lit("en")).alias("_y"),
    )
    return delong_auc_test(d2, "_sa", "_sb", "_y", "doc_id")


@_q(
    "qc19_fixed_effect_meta",
    """
    WITH base AS (
      SELECT source AS st,
             CASE WHEN substring(md5('meta|' || CAST(doc_id AS VARCHAR)),
                                 1, 8) < '80000000' THEN 1 ELSE 0 END AS a,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    per AS (SELECT st, CAST(sum(a) AS BIGINT) AS n1,
                   CAST(sum(a * y) AS BIGINT) AS k1,
                   CAST(sum(1 - a) AS BIGINT) AS n0,
                   CAST(sum((1 - a) * y) AS BIGINT) AS k0
            FROM base GROUP BY 1),
    staged AS (
      SELECT st, n1, k1, n0, k0,
             CAST(round(k1 * 1000000 / n1) AS BIGINT)
               - CAST(round(k0 * 1000000 / n0) AS BIGINT) AS d_micro,
             CAST(round((CAST(k1 AS DOUBLE) / n1
                         * (1 - CAST(k1 AS DOUBLE) / n1) / n1
                         + CAST(k0 AS DOUBLE) / n0
                         * (1 - CAST(k0 AS DOUBLE) / n0) / n0) * 1e12)
                  AS BIGINT) AS v12
      FROM per WHERE n1 > 0 AND n0 > 0),
    strata AS (SELECT st, n1, k1, n0, k0, d_micro,
                      1000000000000 // v12 AS w
               FROM staged WHERE v12 > 0),
    pool0 AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
                     CAST(sum(w * d_micro) AS BIGINT) AS num,
                     CAST(sum(w) AS BIGINT) AS den
              FROM strata),
    pool AS (SELECT k_strata, den,
                    CAST(round(CAST(num AS DOUBLE) / den) AS BIGINT)
                      AS pooled_micro
             FROM pool0),
    qq AS (SELECT CAST(sum(w * (d_micro - pooled_micro)
                           * (d_micro - pooled_micro)) AS BIGINT) AS qsum,
                  max(k_strata) AS k_strata,
                  max(pooled_micro) AS pooled_micro
           FROM strata CROSS JOIN pool),
    g0 AS (SELECT k_strata, pooled_micro,
                  CAST(round(qsum / 1e9) AS BIGINT) AS q_milli
           FROM qq),
    g AS (SELECT k_strata, pooled_micro, q_milli,
                 CASE WHEN q_milli > 0 THEN
                   greatest(CAST(0 AS BIGINT),
                     CAST(round(CAST((q_milli - 1000 * (k_strata - 1))
                          * 1000 AS DOUBLE) / q_milli) AS BIGINT))
                 END AS i2_milli
          FROM g0)
    SELECT strata.st AS source, strata.n1, strata.k1, strata.n0,
           strata.k0, strata.d_micro, strata.w,
           g.k_strata, g.pooled_micro, g.q_milli, g.i2_milli
    FROM strata CROSS JOIN g
    """,
)
def qc19(spark, sf):
    """Fixed-effect meta-analysis of the per-source md5-split risk
    difference in English rate (operators/stats.py:fixed_effect_meta)
    — inverse-variance pooling with integer weights w = 1e12 div v12,
    Cochran's Q and I² heterogeneity from pure integer sums; the
    multi-strata roll-up next to qb31's stratified ATE (which weights
    by size, not precision)."""
    from .operators.stats import fixed_effect_meta
    from .operators.split import hash_split_col

    d = _t(spark, sf, "documents")
    d2 = d.select(
        "source",
        (
            hash_split_col(
                F.col("doc_id"), {"treat": 0.5, "control": 0.5}, "meta"
            )
            == "treat"
        ).alias("_arm"),
        (F.col("lang") == F.lit("en")).alias("_y"),
    )
    return fixed_effect_meta(d2, "source", "_arm", "_y")


# ---------------------------------------------------------------------------
# round-4 wave 48: block-design trend/concordance + calibration GOF + effect
# ---------------------------------------------------------------------------


@_q(
    "qc22_page_trend",
    """
    WITH base AS (SELECT epoch_us(ts) // 86400000000 AS b,
                         CAST(((epoch_us(ts) // 3600000000) % 24) // 6
                              AS VARCHAR) AS t,
                         CAST(round(value * 100) AS BIGINT) AS cv
                  FROM events),
    cells AS (SELECT b, t, CAST(sum(cv) AS BIGINT) AS v
              FROM base GROUP BY 1, 2),
    complete AS (SELECT b FROM cells GROUP BY 1 HAVING count(*) = 4),
    cc AS (SELECT cells.* FROM cells JOIN complete USING (b)),
    hist AS (SELECT b, v, CAST(count(*) AS BIGINT) AS c
             FROM cc GROUP BY 1, 2),
    dmid AS (SELECT b, v,
                    2 * (sum(c) OVER (PARTITION BY b ORDER BY v) - c)
                      + c + 1 AS dmid
             FROM hist),
    ot(t, oj) AS (VALUES ('0', 1), ('1', 2), ('2', 3), ('3', 4)),
    r AS (SELECT cc.t, ot.oj, CAST(count(*) AS BIGINT) AS nb,
                 CAST(sum(dmid) AS BIGINT) AS r2
          FROM cc JOIN dmid USING (b, v) JOIN ot ON cc.t = ot.t
          GROUP BY 1, 2),
    g AS (SELECT CAST(max(nb) AS BIGINT) AS B,
                 CAST(sum(oj * r2) AS BIGINT) AS l2,
                 CAST(sum((r2 - nb * 5) * (r2 - nb * 5)) AS BIGINT) AS s4
          FROM r)
    SELECT B AS n_blocks, CAST(4 AS BIGINT) AS k_treatments, l2,
           CAST(round(3.0 * s4 * 1000000
                / (1.0 * B * B * 4 * (4 * 4 - 1))) AS BIGINT) AS w_micro,
           CAST(round((6 * l2 - 3 * B * 4 * (4 + 1) * (4 + 1))
                / sqrt(1.0 * B * 4 * 4 * (4 + 1) * (4 * 4 - 1)) * 1000)
                AS BIGINT) AS z_milli
    FROM g
    """,
)
def qc22(spark, sf):
    """Page's L ordered trend + Kendall's W concordance of daily spend
    rank across the four 6-hour buckets, days as blocks
    (operators/stats.py:page_trend) — the pre-specified-order power
    upgrade over qc05's Friedman, plus how consistently days agree on
    the ranking; L2/S4 exact int64, z and W one scalar DAG each."""
    from .operators.stats import page_trend

    e = _t(spark, sf, "events").select(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias(
            "d"
        ),
        F.expr(
            "CAST(((unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000)"
            " % 24) div 6 AS STRING)"
        ).alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return page_trend(e, "d", "bucket", "cents", ("0", "1", "2", "3"))


@_q(
    "qc23_hosmer_lemeshow",
    """
    WITH ext AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                 FROM documents),
    b AS (
      SELECT CAST(floor((n_chars - ext.mn) * 10 / (ext.mx - ext.mn + 1))
                  AS BIGINT) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents CROSS JOIN ext),
    per0 AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(y) AS BIGINT) AS pos
             FROM b GROUP BY 1),
    per AS (SELECT bin, n, pos,
                   CAST((2 * bin + 1) * 1000000 / 20 AS BIGINT)
                     AS conf_micro
            FROM per0),
    terms AS (
      SELECT bin, n, pos, conf_micro,
             CAST(round(n * conf_micro / 1000000) AS BIGINT)
               AS expected_pos,
             CASE WHEN n * conf_micro * (1000000 - conf_micro) > 0 THEN
               CAST(round(CAST(pos * 1000000 - n * conf_micro AS DOUBLE)
                    * CAST(pos * 1000000 - n * conf_micro AS DOUBLE)
                    / (n * conf_micro * (1000000 - conf_micro)) * 1000)
                    AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS term_milli
      FROM per),
    g AS (SELECT CAST(sum(term_milli) AS BIGINT) AS hl_milli,
                 CAST(count(*) - 2 AS BIGINT) AS df_hl
          FROM terms)
    SELECT terms.bin, terms.n, terms.pos, terms.conf_micro,
           terms.expected_pos, terms.term_milli, g.hl_milli, g.df_hl
    FROM terms CROSS JOIN g
    """,
)
def qc23(spark, sf):
    """Hosmer-Lemeshow calibration goodness-of-fit on qa82's bins
    (operators/evaluate.py:hosmer_lemeshow) — the χ² significance
    yardstick completing ECE (gap size, qa82) and Murphy (gap
    attribution, qc13); int64 numerator differences squared in
    double, per-bin milli terms integer-summed."""
    from .operators.evaluate import hosmer_lemeshow

    d = _t(spark, sf, "documents")
    return hosmer_lemeshow(
        d, "n_chars", F.col("lang") == F.lit("en"), n_bins=10
    )


@_q(
    "qc24_cohens_d",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS x
                  FROM events),
    per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_a,
                   CAST(sum(x) AS BIGINT) AS sx1,
                   CAST(sum(x * x) AS BIGINT) AS sq1
            FROM base GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS N,
                   CAST(sum(x) AS BIGINT) AS SX,
                   CAST(sum(x * x) AS BIGINT) AS SQ
            FROM base),
    j AS (SELECT g, n_a, sx1, sq1,
                 N - n_a AS n_b, SX - sx1 AS sx2, SQ - sq1 AS sq2
          FROM per CROSS JOIN tot),
    calc AS (
      SELECT g, n_a, n_b,
             CAST(sx1 AS DOUBLE) / n_a AS m1,
             CAST(sx2 AS DOUBLE) / n_b AS m2,
             sqrt(((sq1 - CAST(sx1 AS DOUBLE) * sx1 / n_a)
                   + (sq2 - CAST(sx2 AS DOUBLE) * sx2 / n_b))
                  / (n_a + n_b - 2)) AS sp
      FROM j WHERE n_b > 0)
    SELECT g AS event_type, n_a, n_b,
           CAST(round(m1 * 1000) AS BIGINT) AS mean_a_milli,
           CAST(round(m2 * 1000) AS BIGINT) AS mean_b_milli,
           CASE WHEN n_a > 1 AND n_b > 1 AND sp > 0 THEN
             CAST(round((m1 - m2) / sp * 1000) AS BIGINT)
           END AS d_milli,
           CASE WHEN n_a > 1 AND n_b > 1 AND sp > 0 THEN
             CAST(round((m1 - m2) / sp
                  * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9)) * 1000)
                  AS BIGINT)
           END AS g_milli
    FROM calc
    """,
)
def qc24(spark, sf):
    """Cohen's d + Hedges' g of each event type's cents value vs the
    rest (operators/stats.py:cohens_d) — the parametric mean-shift
    effect size next to qc06's rank-based Cliff delta; three integer
    sums per group, complement by subtraction from broadcast totals,
    one fixed scalar DAG."""
    from .operators.stats import cohens_d

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cohens_d(e, "event_type", "cents")


# ---------------------------------------------------------------------------
# round-4 wave 49: equivalence gate, representation similarity, spread test
# ---------------------------------------------------------------------------


@_q(
    "qc25_tost_equivalence",
    """
    WITH base AS (
      SELECT CASE WHEN substring(md5('tost|' || CAST(doc_id AS VARCHAR)),
                                 1, 8) < '80000000' THEN 1 ELSE 0 END AS a,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    agg AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
                   CAST(sum(a * y) AS BIGINT) AS k1,
                   CAST(sum(1 - a) AS BIGINT) AS n0,
                   CAST(sum((1 - a) * y) AS BIGINT) AS k0
            FROM base),
    st AS (SELECT n1, k1, n0, k0,
                  CAST(round(k1 * 1000000 / n1) AS BIGINT)
                    - CAST(round(k0 * 1000000 / n0) AS BIGINT) AS d_micro,
                  sqrt(CAST(k1 AS DOUBLE) / n1
                       * (1 - CAST(k1 AS DOUBLE) / n1) / n1
                       + CAST(k0 AS DOUBLE) / n0
                       * (1 - CAST(k0 AS DOUBLE) / n0) / n0) AS se
           FROM agg WHERE n1 > 0 AND n0 > 0),
    st2 AS (SELECT n1, k1, n0, k0, d_micro,
                   CAST(round(se * 1000000) AS BIGINT) AS se_micro,
                   CASE WHEN se > 0 THEN
                     CAST(round((d_micro + 50000) / (se * 1000000) * 1000)
                          AS BIGINT) END AS z_lower_milli,
                   CASE WHEN se > 0 THEN
                     CAST(round((50000 - d_micro) / (se * 1000000) * 1000)
                          AS BIGINT) END AS z_upper_milli
            FROM st)
    SELECT *,
           (z_lower_milli IS NOT NULL
            AND least(z_lower_milli, z_upper_milli) > 1645) AS equivalent
    FROM st2
    """,
)
def qc25(spark, sf):
    """TOST equivalence of the md5-arm English rates at margin
    δ = 0.05 (operators/stats.py:tost_equivalence) — the "prove it's
    NOT different" ship gate qb13's difference test cannot provide;
    both one-sided z's from one fixed DAG, verdict on milli-rounded
    integers."""
    from .operators.stats import tost_equivalence
    from .operators.split import hash_split_col

    d = _t(spark, sf, "documents")
    d2 = d.select(
        (
            hash_split_col(
                F.col("doc_id"), {"treat": 0.5, "control": 0.5}, "tost"
            )
            == "treat"
        ).alias("_arm"),
        (F.col("lang") == F.lit("en")).alias("_y"),
    )
    return tost_equivalence(d2, "_arm", "_y", margin_micro=50_000)


@_q(
    "qc26_linear_cka",
    """
    WITH xs AS (
      SELECT vec_id AS id, gs - 1 AS a, CAST(round(v * 1e6) AS BIGINT) AS x
      FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
                   generate_subscripts(embedding::DOUBLE[], 1) AS gs
            FROM embeddings)),
    ys AS (
      SELECT vec_id AS id, gs - 1 AS b, CAST(round(v * 1e6) AS BIGINT) AS y
      FROM (SELECT vec_id, unnest(embedding[1:16]::DOUBLE[]) AS v,
                   generate_subscripts(embedding[1:16]::DOUBLE[], 1) AS gs
            FROM embeddings)),
    nrow AS (SELECT CAST(count(*) AS BIGINT) AS N FROM embeddings),
    mx AS (SELECT a, CAST(sum(x) AS BIGINT) AS sx FROM xs GROUP BY 1),
    my AS (SELECT b, CAST(sum(y) AS BIGINT) AS sy FROM ys GROUP BY 1),
    pxy AS (SELECT xs.a, ys.b, CAST(sum(xs.x * ys.y) AS BIGINT) AS sxy
            FROM xs JOIN ys USING (id) GROUP BY 1, 2),
    pxx AS (SELECT x1.a, x2.a AS b, CAST(sum(x1.x * x2.x) AS BIGINT) AS sxy
            FROM xs x1 JOIN xs x2 USING (id) GROUP BY 1, 2),
    pyy AS (SELECT y1.b AS a, y2.b, CAST(sum(y1.y * y2.y) AS BIGINT) AS sxy
            FROM ys y1 JOIN ys y2 USING (id) GROUP BY 1, 2),
    cxy AS (SELECT CAST(round((1.0 * N * sxy - CAST(sx AS DOUBLE) * sy)
                        / (1.0 * N * N * 1000000)) AS BIGINT) AS cv
            FROM pxy JOIN mx USING (a) JOIN my USING (b) CROSS JOIN nrow),
    cxx AS (SELECT CAST(round((1.0 * N * sxy - CAST(sx AS DOUBLE) * sy)
                        / (1.0 * N * N * 1000000)) AS BIGINT) AS cv
            FROM pxx JOIN mx USING (a)
            JOIN (SELECT a AS b, sx AS sy FROM mx) USING (b)
            CROSS JOIN nrow),
    cyy AS (SELECT CAST(round((1.0 * N * sxy - CAST(sx AS DOUBLE) * sy)
                        / (1.0 * N * N * 1000000)) AS BIGINT) AS cv
            FROM pyy JOIN (SELECT b AS a, sy AS sx FROM my) USING (a)
            JOIN my USING (b)
            CROSS JOIN nrow),
    sxyf AS (SELECT CAST(sum(cv * cv) AS BIGINT) AS s_xy FROM cxy),
    sxxf AS (SELECT CAST(sum(cv * cv) AS BIGINT) AS s_xx FROM cxx),
    syyf AS (SELECT CAST(sum(cv * cv) AS BIGINT) AS s_yy FROM cyy)
    SELECT nrow.N AS n_rows,
           (SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings)
             AS d_a,
           CAST(16 AS BIGINT) AS d_b,
           s_xy, s_xx, s_yy,
           CASE WHEN s_xx > 0 AND s_yy > 0 THEN
             CAST(round(1000000.0 * s_xy
                  / sqrt(CAST(s_xx AS DOUBLE) * s_yy)) AS BIGINT)
           END AS cka_micro
    FROM nrow CROSS JOIN sxyf CROSS JOIN sxxf CROSS JOIN syyf
    """,
)
def qc26(spark, sf):
    """Linear CKA between the full 64-dim embeddings and their first
    16 dims (operators/similarity.py:linear_cka) — "how much of the
    representation's geometry survives a 4× truncation", the audit
    before shrinking an embedding store; covariance cells one fixed
    DAG each pinned to covariance-micro ints, Frobenius sums integer over
    dimension-sized grids."""
    from .operators.similarity import linear_cka

    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        "embedding",
        F.slice(F.col("embedding"), 1, 16).alias("embedding_b"),
    )
    return linear_cka(e, "vec_id", "embedding", "embedding_b")


@_q(
    "qc27_brown_forsythe",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS x
                  FROM events),
    hist AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    staged AS (SELECT g, x,
                      sum(c) OVER (PARTITION BY g ORDER BY x) AS cum,
                      sum(c) OVER (PARTITION BY g) AS n
               FROM hist),
    med AS (SELECT g, CAST(min(x) AS BIGINT) AS med
            FROM staged WHERE 2 * cum >= n GROUP BY 1),
    z AS (SELECT base.g, med.med, abs(base.x - med.med) AS z
          FROM base JOIN med USING (g)),
    per0 AS (SELECT g, CAST(count(*) AS BIGINT) AS n_a,
                    CAST(max(med) AS BIGINT) AS median,
                    CAST(sum(z) AS BIGINT) AS sz,
                    CAST(sum(z * z) AS BIGINT) AS sq
             FROM z GROUP BY 1),
    per AS (SELECT *, CAST(round(CAST(sz AS DOUBLE) * sz / n_a) AS BIGINT)
                        AS t
            FROM per0),
    g2 AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                  CAST(sum(n_a) AS BIGINT) AS N,
                  CAST(sum(sz) AS BIGINT) AS SZ,
                  CAST(sum(sq) AS BIGINT) AS SQ,
                  CAST(sum(t) AS BIGINT) AS ST
           FROM per),
    g3 AS (SELECT k_groups,
                  CASE WHEN k_groups > 1 AND N > k_groups
                            AND (SQ - ST) > 0 THEN
                    CAST(round(((ST - CAST(round(CAST(SZ AS DOUBLE) * SZ / N)
                                AS BIGINT)) / (k_groups - 1))
                         / ((SQ - ST) / (N - k_groups)) * 1000) AS BIGINT)
                  END AS f_milli
           FROM g2)
    SELECT per.g AS event_type, per.n_a, per.median,
           CAST(round(per.sz * 1000 / per.n_a) AS BIGINT)
             AS mean_absdev_milli,
           g3.k_groups, g3.f_milli
    FROM per CROSS JOIN g3
    """,
)
def qc27(spark, sf):
    """Brown-Forsythe spread-equality test across event types
    (operators/stats.py:brown_forsythe) — ANOVA on |x − group
    median|, the robust "do the groups differ in VARIANCE" gate next
    to qc24's mean effect; exact histogram medians, per-group squared
    terms one DAG each then integer sums."""
    from .operators.stats import brown_forsythe

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return brown_forsythe(e, "event_type", "cents")


# ---------------------------------------------------------------------------
# round-4 wave 50: robust location, retention streaks, drawdown risk
# ---------------------------------------------------------------------------


@_q(
    "qc28_robust_means",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS x
                  FROM events),
    hist AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    staged AS (SELECT g, x, c,
                      sum(c) OVER (PARTITION BY g ORDER BY x) AS cum,
                      sum(c) OVER (PARTITION BY g) AS n
               FROM hist),
    cuts AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
                    CAST(min(CASE WHEN 100 * cum >= 10 * n THEN x END)
                         AS BIGINT) AS q_lo,
                    CAST(min(CASE WHEN 100 * cum >= 90 * n THEN x END)
                         AS BIGINT) AS q_hi
             FROM staged GROUP BY 1),
    folded AS (
      SELECT h.g, max(cuts.n) AS n, max(q_lo) AS q_lo, max(q_hi) AS q_hi,
             CAST(sum(x * c) AS BIGINT) AS sx,
             CAST(sum(greatest(least(x, q_hi), q_lo) * c) AS BIGINT) AS sw,
             CAST(sum(CASE WHEN x >= q_lo AND x <= q_hi THEN x * c
                      ELSE 0 END) AS BIGINT) AS st,
             CAST(sum(CASE WHEN x >= q_lo AND x <= q_hi THEN c
                      ELSE 0 END) AS BIGINT) AS n_kept
      FROM hist h JOIN cuts USING (g) GROUP BY 1)
    SELECT g AS event_type, n, q_lo, q_hi,
           CAST(round(sx * 1000 / n) AS BIGINT) AS mean_milli,
           CAST(round(sw * 1000 / n) AS BIGINT) AS winsor_mean_milli,
           CASE WHEN n_kept > 0 THEN
             CAST(round(st * 1000 / n_kept) AS BIGINT)
           END AS trimmed_mean_milli,
           n_kept
    FROM folded
    """,
)
def qc28(spark, sf):
    """Winsorized + value-trimmed means of cents per event type at the
    10/90 cuts (operators/stats.py:robust_means) — robust location
    from the SAME per-group histogram that yields the exact type-1
    cut values; clamped/trimmed sums are integer folds over the
    histogram, no second row pass."""
    from .operators.stats import robust_means

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return robust_means(e, "event_type", "cents", 10, 90)


@_q(
    "qc29_activity_streaks",
    """
    WITH days AS (SELECT DISTINCT user_id AS u,
                         epoch_us(ts) // 86400000000 AS d
                  FROM events),
    isl AS (SELECT u, d,
                   d - row_number() OVER (PARTITION BY u ORDER BY d) AS grp
            FROM days),
    streaks AS (SELECT u, grp, CAST(count(*) AS BIGINT) AS len
                FROM isl GROUP BY 1, 2),
    per_day AS (SELECT u, CAST(count(*) AS BIGINT) AS n_active_days,
                       CAST(max(d) AS BIGINT) AS latest_day_epoch
                FROM days GROUP BY 1),
    per_streak AS (SELECT u, CAST(count(*) AS BIGINT) AS n_streaks,
                          CAST(max(len) AS BIGINT) AS longest_streak
                   FROM streaks GROUP BY 1)
    SELECT pd.u AS user_id, n_active_days, n_streaks, longest_streak,
           latest_day_epoch
    FROM per_day pd JOIN per_streak USING (u)
    """,
)
def qc29(spark, sf):
    """Longest consecutive-active-day streak per user
    (operators/temporal.py:activity_streaks) — gaps-and-islands
    (day − row_number is constant on runs, one partitioned window),
    the retention SHAPE qb78's daily stickiness ratios can't see."""
    from .operators.temporal import activity_streaks

    return activity_streaks(_t(spark, sf, "events"), "user_id", "ts")


@_q(
    "qc30_max_drawdown",
    """
    WITH daily AS (SELECT event_type AS e, epoch_us(ts) // 86400000000 AS d,
                          CAST(sum(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS dv
                   FROM events GROUP BY 1, 2),
    cum AS (SELECT e, d,
                   CAST(sum(dv) OVER (PARTITION BY e ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM daily),
    pk AS (SELECT e, d, cum,
                  CAST(max(cum) OVER (PARTITION BY e ORDER BY d
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
           FROM cum),
    dd AS (SELECT e, d, cum, peak, peak - cum AS dd FROM pk)
    SELECT e AS event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(max_by(cum, d) AS BIGINT) AS final_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(max(dd) AS BIGINT) AS max_drawdown_cents,
           CAST(-(max(struct_pack(dd := dd, nd := -d)).nd) AS BIGINT)
             AS worst_day_epoch
    FROM dd GROUP BY 1
    """,
)
def qc30(spark, sf):
    """Maximum drawdown of each event type's cumulative daily cents
    (operators/temporal.py:max_drawdown_daily) — worst peak-to-trough
    slide via one partitioned cumulative/running-max window chain,
    worst day resolved to the earliest via struct max over
    (drawdown, −day); pure integers."""
    from .operators.temporal import max_drawdown_daily

    return max_drawdown_daily(_t(spark, sf, "events"))


# ---------------------------------------------------------------------------
# round-4 wave 51: bounded drift metrics, KW post-hoc, confounder control
# ---------------------------------------------------------------------------


@_q(
    "qc31_hellinger_tv",
    """
    WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                         CASE WHEN event_type = 'view' THEN 1 ELSE 0
                         END AS b
                  FROM events
                  WHERE event_type IN ('click', 'view')),
    hist AS (SELECT v, CAST(sum(1 - b) AS BIGINT) AS ca,
                    CAST(sum(b) AS BIGINT) AS cb
             FROM base GROUP BY 1),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb
            FROM hist),
    cells AS (SELECT CAST(round(sqrt(1.0 * ca * cb)
                          / sqrt(1.0 * na * nb) * 1e9) AS BIGINT) AS bc,
                     abs(ca * nb - cb * na) AS tvn
              FROM hist CROSS JOIN tot),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
                   CAST(sum(bc) AS BIGINT) AS bc_nano,
                   CAST(sum(tvn) AS BIGINT) AS tvs
            FROM cells)
    SELECT na AS n_a, nb AS n_b, n_values, bc_nano,
           CAST(round(sqrt(greatest(0.0, 1.0 - bc_nano / 1e9)) * 1000000)
                AS BIGINT) AS hellinger_micro,
           CAST(round(CAST(tvs AS DOUBLE) * 1000000 / (2.0 * na * nb))
                AS BIGINT) AS tv_micro
    FROM agg CROSS JOIN tot
    """,
)
def qc31(spark, sf):
    """Hellinger + total-variation distance between click and view
    cents distributions (operators/stats.py:hellinger_tv) — the
    bounded [0,1] drift metrics next to KS/PSI/Wasserstein/JSD; TV's
    numerator exact int64 cross-multiplication, Bhattacharyya cells
    nano-rounded once per distinct value then integer-summed."""
    from .operators.stats import hellinger_tv

    e = _t(spark, sf, "events").where(
        F.col("event_type").isin("click", "view")
    ).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "view").alias("is_view"),
    )
    return hellinger_tv(e, "cents", "is_view")


@_q(
    "qc32_dunn_posthoc",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1),
    ranked AS (SELECT v, c,
                      2 * (sum(c) OVER (ORDER BY v) - c) + c + 1 AS dmid,
                      c * c * c - c AS tie
               FROM vc),
    gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ca
           FROM base GROUP BY 1, 2),
    terms AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n,
                     CAST(sum(ca * dmid) AS BIGINT) AS r2
              FROM gv JOIN ranked USING (v) GROUP BY 1),
    gall AS (SELECT CAST(sum(c) AS BIGINT) AS N,
                    CAST(sum(tie) AS BIGINT) AS T
             FROM ranked),
    pairs AS (SELECT a.g AS group_a, b.g AS group_b,
                     a.n AS n_a, b.n AS n_b,
                     a.r2 AS r2a, b.r2 AS r2b
              FROM terms a CROSS JOIN terms b WHERE a.g < b.g),
    calc AS (SELECT group_a, group_b, n_a, n_b,
                    CAST(r2a AS DOUBLE) / n_a AS mra,
                    CAST(r2b AS DOUBLE) / n_b AS mrb,
                    1.0 * N * (N + 1) / 12 - T / (12.0 * (N - 1)) AS varfac
             FROM pairs CROSS JOIN gall),
    calc2 AS (SELECT group_a, group_b, n_a, n_b,
                     CAST(round(mra * 1000000 / 2) AS BIGINT)
                       AS mean_rank_a_micro,
                     CAST(round(mrb * 1000000 / 2) AS BIGINT)
                       AS mean_rank_b_micro,
                     CASE WHEN varfac > 0 THEN
                       CAST(round(((mra - mrb) / 2)
                            / sqrt(varfac * (1.0 / n_a + 1.0 / n_b))
                            * 1000) AS BIGINT)
                     END AS z_milli
              FROM calc)
    SELECT *,
           (z_milli IS NOT NULL AND abs(z_milli) > 2807) AS significant
    FROM calc2
    """,
)
def qc32(spark, sf):
    """Dunn's post-hoc pairwise mean-rank test after qc04's
    Kruskal-Wallis omnibus (operators/stats.py:dunn_posthoc) — which
    event-type pairs actually differ, tie-corrected variance, flagged
    against the Bonferroni critical value 2.807 (10 pairs, two-sided
    5%) injected as an integer constant in BOTH engines."""
    from .operators.stats import dunn_posthoc

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return dunn_posthoc(e, "event_type", "cents", z_crit_milli=2_807)


@_q(
    "qc33_partial_correlation",
    """
    WITH users AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS z
      FROM events GROUP BY 1),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(z) AS BIGINT) AS sz,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy,
                 CAST(sum(z * z) AS BIGINT) AS szz,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * z) AS BIGINT) AS sxz,
                 CAST(sum(y * z) AS BIGINT) AS syz
          FROM users),
    r AS (SELECT n,
                 (1.0 * n * sxy - CAST(sx AS DOUBLE) * sy)
                   / sqrt((1.0 * n * sxx - CAST(sx AS DOUBLE) * sx)
                          * (1.0 * n * syy - CAST(sy AS DOUBLE) * sy))
                   AS rxy,
                 (1.0 * n * sxz - CAST(sx AS DOUBLE) * sz)
                   / sqrt((1.0 * n * sxx - CAST(sx AS DOUBLE) * sx)
                          * (1.0 * n * szz - CAST(sz AS DOUBLE) * sz))
                   AS rxz,
                 (1.0 * n * syz - CAST(sy AS DOUBLE) * sz)
                   / sqrt((1.0 * n * syy - CAST(sy AS DOUBLE) * sy)
                          * (1.0 * n * szz - CAST(sz AS DOUBLE) * sz))
                   AS ryz
          FROM s)
    SELECT n,
           CAST(round(rxy * 1000000) AS BIGINT) AS r_xy_micro,
           CAST(round(rxz * 1000000) AS BIGINT) AS r_xz_micro,
           CAST(round(ryz * 1000000) AS BIGINT) AS r_yz_micro,
           CASE WHEN abs(round(rxz * 1000000)) < 1000000
                     AND abs(round(ryz * 1000000)) < 1000000 THEN
             CAST(round((rxy - rxz * ryz)
                  / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) * 1000000)
                  AS BIGINT)
           END AS partial_r_micro
    FROM r
    """,
)
def qc33(spark, sf):
    """Partial correlation of per-user clicks vs purchase spend,
    controlling views (operators/stats.py:partial_correlation) —
    "is the click↔spend link real or just exposure"; nine integer
    sums in one pass, three Pearson DAGs, one partial DAG, rounded
    once at the end."""
    from .operators.stats import partial_correlation

    e = _t(spark, sf, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("zc"),
    )
    return partial_correlation(u, "x", "y", "zc")


# ---------------------------------------------------------------------------
# round-4 wave 52: mix-vs-rate decomposition + mobility matrix
# ---------------------------------------------------------------------------


@_q(
    "qc34_shift_share",
    """
    WITH dd AS (SELECT event_type AS s, epoch_us(ts) // 86400000000 AS d,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events),
    ext AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM dd),
    base AS (SELECT s, CASE WHEN d >= mid THEN 1 ELSE 0 END AS p, v
             FROM dd CROSS JOIN ext),
    per AS (SELECT s, CAST(sum(1 - p) AS BIGINT) AS n1,
                   CAST(sum(p) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN p = 0 THEN v ELSE 0 END) AS BIGINT)
                     AS v1,
                   CAST(sum(CASE WHEN p = 1 THEN v ELSE 0 END) AS BIGINT)
                     AS v2
            FROM base GROUP BY 1),
    tot AS (SELECT CAST(sum(1 - p) AS BIGINT) AS nt1,
                   CAST(sum(p) AS BIGINT) AS nt2,
                   CAST(sum(CASE WHEN p = 0 THEN v ELSE 0 END) AS BIGINT)
                     AS st1,
                   CAST(sum(CASE WHEN p = 1 THEN v ELSE 0 END) AS BIGINT)
                     AS st2
            FROM base),
    staged AS (SELECT s, n1, n2,
                      CAST(round(n1 * 1000000 / nt1) AS BIGINT) AS w1_micro,
                      CAST(round(n2 * 1000000 / nt2) AS BIGINT) AS w2_micro,
                      CAST(round(v1 * 1000 / n1) AS BIGINT) AS r1_milli,
                      CAST(round(v2 * 1000 / n2) AS BIGINT) AS r2_milli
               FROM per CROSS JOIN tot WHERE n1 > 0 AND n2 > 0),
    terms AS (SELECT *,
                     CAST(round(CAST(w2_micro - w1_micro AS DOUBLE)
                          * r1_milli / 1000000) AS BIGINT) AS mix_milli,
                     CAST(round(CAST(w1_micro AS DOUBLE)
                          * (r2_milli - r1_milli) / 1000000) AS BIGINT)
                       AS rate_milli,
                     CAST(round(CAST(w2_micro - w1_micro AS DOUBLE)
                          * (r2_milli - r1_milli) / 1000000) AS BIGINT)
                       AS inter_milli
              FROM staged),
    g AS (SELECT CAST(sum(mix_milli) AS BIGINT) AS mix_total_milli,
                 CAST(sum(rate_milli) AS BIGINT) AS rate_total_milli,
                 CAST(sum(inter_milli) AS BIGINT) AS inter_total_milli
          FROM terms),
    act AS (SELECT CAST(round(CAST(st2 AS DOUBLE) * 1000 / nt2
                        - CAST(st1 AS DOUBLE) * 1000 / nt1) AS BIGINT)
                     AS delta_actual_milli
            FROM tot)
    SELECT terms.s AS event_type, terms.n1, terms.n2, terms.w1_micro,
           terms.w2_micro, terms.r1_milli, terms.r2_milli,
           terms.mix_milli, terms.rate_milli, terms.inter_milli,
           g.mix_total_milli, g.rate_total_milli, g.inter_total_milli,
           act.delta_actual_milli
    FROM terms CROSS JOIN g CROSS JOIN act
    """,
)
def qc34(spark, sf):
    """Shift-share decomposition of the mean cents change between the
    corpus's two day-halves (operators/temporal.py:shift_share): MIX
    (event-type composition moved) vs RATE (the types themselves
    changed) vs interaction — per-segment fixed-DAG milli terms
    integer-summed, reconciled against the directly-computed ΔM."""
    from .operators.temporal import shift_share

    e = _t(spark, sf, "events").select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias(
            "d"
        ),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ext = e.groupBy().agg(
        F.expr("(min(d) + max(d) + 1) div 2").alias("_mid")
    )
    e2 = e.crossJoin(F.broadcast(ext)).select(
        "event_type",
        (F.col("d") >= F.col("_mid")).alias("p2"),
        "cents",
    )
    return shift_share(e2, "event_type", "p2", "cents")


@_q(
    "qc35_quintile_migration",
    """
    WITH dd AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS d,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events),
    ext AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM dd),
    base AS (SELECT u, CASE WHEN d >= mid THEN 1 ELSE 0 END AS p, v
             FROM dd CROSS JOIN ext),
    pu AS (SELECT u, p, CAST(sum(v) AS BIGINT) AS spend
           FROM base GROUP BY 1, 2),
    hist AS (SELECT p, spend, CAST(count(*) AS BIGINT) AS c
             FROM pu GROUP BY 1, 2),
    staged AS (SELECT p, spend,
                      sum(c) OVER (PARTITION BY p ORDER BY spend) AS cum,
                      sum(c) OVER (PARTITION BY p) AS n
               FROM hist),
    cuts AS (SELECT p,
                    CAST(min(CASE WHEN 5 * cum >= 1 * n THEN spend END)
                         AS BIGINT) AS cut0,
                    CAST(min(CASE WHEN 5 * cum >= 2 * n THEN spend END)
                         AS BIGINT) AS cut1,
                    CAST(min(CASE WHEN 5 * cum >= 3 * n THEN spend END)
                         AS BIGINT) AS cut2,
                    CAST(min(CASE WHEN 5 * cum >= 4 * n THEN spend END)
                         AS BIGINT) AS cut3
             FROM staged GROUP BY 1),
    tiled AS (SELECT u, p,
                     1 + CAST(spend > cut0 AS BIGINT)
                       + CAST(spend > cut1 AS BIGINT)
                       + CAST(spend > cut2 AS BIGINT)
                       + CAST(spend > cut3 AS BIGINT) AS tile
              FROM pu JOIN cuts USING (p)),
    a AS (SELECT u, tile AS tile_from FROM tiled WHERE p = 0),
    b AS (SELECT u, tile AS tile_to FROM tiled WHERE p = 1),
    pairs AS (SELECT a.u, tile_from, tile_to FROM a JOIN b USING (u)),
    mat AS (SELECT tile_from, tile_to, CAST(count(*) AS BIGINT) AS n
            FROM pairs GROUP BY 1, 2),
    mat2 AS (SELECT tile_from, tile_to, n,
                    CAST(round(n * 1000000
                         / sum(n) OVER (PARTITION BY tile_from))
                         AS BIGINT) AS row_share_micro
             FROM mat),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(round(sum(CASE WHEN tile_from = tile_to THEN 1
                                ELSE 0 END) * 1000000 / count(*))
                      AS BIGINT) AS stay_share_micro
          FROM pairs)
    SELECT mat2.tile_from, mat2.tile_to, mat2.n, mat2.row_share_micro,
           g.n_users, g.stay_share_micro
    FROM mat2 CROSS JOIN g
    """,
)
def qc35(spark, sf):
    """Per-user spend-quintile migration matrix between the two day
    halves (operators/temporal.py:quintile_migration) — mobility the
    marginals can't show; period-specific exact type-1 cuts, bucket =
    1 + Σ[v > cut] deterministic under ties, row shares + trace
    (stay) mass."""
    from .operators.temporal import quintile_migration

    e = _t(spark, sf, "events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").alias(
            "d"
        ),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ext = e.groupBy().agg(
        F.expr("(min(d) + max(d) + 1) div 2").alias("_mid")
    )
    e2 = e.crossJoin(F.broadcast(ext)).select(
        "user_id",
        (F.col("d") >= F.col("_mid")).alias("p2"),
        "cents",
    )
    return quintile_migration(e2, "user_id", "p2", "cents", 5)


# ---------------------------------------------------------------------------
# round-4 wave 53: contingency attribution + integrated-square drift
# ---------------------------------------------------------------------------


@_q(
    "qc36_chi2_residuals",
    """
    WITH base AS (SELECT event_type AS r,
                         CAST((epoch_us(ts) // 86400000000 + 4) % 7
                              AS VARCHAR) AS c
                  FROM events),
    cell AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n
             FROM base GROUP BY 1, 2),
    rws AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cell GROUP BY 1),
    cls AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(cell.n) AS BIGINT) AS ntot,
                   CAST(count(DISTINCT cell.r) AS BIGINT) AS nrows,
                   CAST(count(DISTINCT cell.c) AS BIGINT) AS ncols
            FROM cell),
    terms AS (
      SELECT cell.r, cell.c, cell.n,
             CAST(round(CAST(nr AS DOUBLE) * nc / ntot * 1000) AS BIGINT)
               AS expected_milli,
             CAST(round((cell.n - CAST(nr AS DOUBLE) * nc / ntot)
                  * (cell.n - CAST(nr AS DOUBLE) * nc / ntot)
                  / (CAST(nr AS DOUBLE) * nc / ntot) * 1000) AS BIGINT)
               AS chi2_part_milli,
             CAST(round((cell.n - CAST(nr AS DOUBLE) * nc / ntot)
                  / sqrt(CAST(nr AS DOUBLE) * nc / ntot
                         * (1 - CAST(nr AS DOUBLE) / ntot)
                         * (1 - CAST(nc AS DOUBLE) / ntot)) * 1000)
                  AS BIGINT)
               AS std_residual_milli,
             tot.nrows AS RR, tot.ncols AS CC
      FROM cell JOIN rws USING (r) JOIN cls USING (c) CROSS JOIN tot),
    g AS (SELECT CAST(sum(chi2_part_milli) AS BIGINT) AS chi2_milli,
                 CAST((max(RR) - 1) * (max(CC) - 1) AS BIGINT) AS df_chi
          FROM terms)
    SELECT terms.r AS event_type, terms.c AS dow, terms.n,
           terms.expected_milli, terms.chi2_part_milli,
           terms.std_residual_milli, g.chi2_milli, g.df_chi
    FROM terms CROSS JOIN g
    """,
)
def qc36(spark, sf):
    """Haberman adjusted residuals of the event-type × day-of-week
    contingency (operators/stats.py:chi2_cell_residuals) — WHICH
    cells drive the dependence qb92's Cramér's V summarizes; per-cell
    fixed DAGs milli-rounded, total χ² an integer sum of cell
    contributions.  Day-of-week via the (epoch_day + 4) % 7
    convention (qb71)."""
    from .operators.stats import chi2_cell_residuals

    e = _t(spark, sf, "events").select(
        "event_type",
        F.expr(
            "CAST((unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000 + 4)"
            " % 7 AS STRING)"
        ).alias("dow"),
    )
    return chi2_cell_residuals(e, "event_type", "dow")


@_q(
    "qc37_cramer_von_mises",
    """
    WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                         CASE WHEN event_type = 'view' THEN 1 ELSE 0
                         END AS b
                  FROM events
                  WHERE event_type IN ('click', 'view')),
    hist AS (SELECT v, CAST(sum(1 - b) AS BIGINT) AS ca,
                    CAST(sum(b) AS BIGINT) AS cb
             FROM base GROUP BY 1),
    cum AS (SELECT v, ca + cb AS w,
                   CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
                   CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
            FROM hist),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb
            FROM hist),
    cells AS (SELECT CAST(round(w
                          * (CAST(cuma * nb - cumb * na AS DOUBLE)
                             / (1.0 * na * nb))
                          * (CAST(cuma * nb - cumb * na AS DOUBLE)
                             / (1.0 * na * nb))
                          * 1000000) AS BIGINT) AS t
              FROM cum CROSS JOIN tot),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
                   CAST(sum(t) AS BIGINT) AS ts
            FROM cells)
    SELECT na AS n_a, nb AS n_b, n_values,
           CAST(round(1.0 * na * nb / ((na + nb) * (na + nb)) * ts
                / (na + nb)) AS BIGINT) AS t_micro
    FROM agg CROSS JOIN tot
    """,
)
def qc37(spark, sf):
    """Two-sample Cramér-von Mises criterion between click and view
    cents (operators/stats.py:cramer_von_mises) — the integrated
    SQUARED EDF gap completing KS (max gap, qa08) and Wasserstein
    (integrated |gap|, qb96); exact int64 gap cross-multiplications,
    per-value micro terms integer-summed."""
    from .operators.stats import cramer_von_mises

    e = _t(spark, sf, "events").where(
        F.col("event_type").isin("click", "view")
    ).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "view").alias("is_view"),
    )
    return cramer_von_mises(e, "cents", "is_view")


# ---------------------------------------------------------------------------
# round-4 wave 54: embedding-label geometry + inequality decomposition
# ---------------------------------------------------------------------------


@_q(
    "qc38_knn_consistency",
    """
    WITH probes AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                           label AS ql
                    FROM embeddings WHERE vec_id % 10 = 0),
    scored AS (
      SELECT p.qid, p.ql, e.vec_id AS cid, e.label AS cl,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               p.qv) * 1e6)
                  AS BIGINT) AS cos
      FROM embeddings e CROSS JOIN probes p
      WHERE e.vec_id <> p.qid),
    nn AS (SELECT qid, ql, CASE WHEN cl = ql THEN 1 ELSE 0 END AS m
           FROM (SELECT qid, ql, cl,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY cos DESC, cid) AS rn
                 FROM scored)
           WHERE rn = 1),
    per AS (SELECT ql AS label, CAST(count(*) AS BIGINT) AS n_probes,
                   CAST(sum(m) AS BIGINT) AS n_match
            FROM nn GROUP BY 1),
    per2 AS (SELECT label, n_probes, n_match,
                    CAST(round(n_match * 1000000 / n_probes) AS BIGINT)
                      AS acc_micro
             FROM per),
    g AS (SELECT CAST(sum(n_probes) AS BIGINT) AS n_probes_total,
                 CAST(round(CAST(sum(n_match) AS BIGINT) * 1000000
                      / CAST(sum(n_probes) AS BIGINT)) AS BIGINT)
                   AS overall_acc_micro
          FROM per2)
    SELECT per2.label, per2.n_probes, per2.n_match, per2.acc_micro,
           g.n_probes_total, g.overall_acc_micro
    FROM per2 CROSS JOIN g
    """,
)
def qc38(spark, sf):
    """Leave-one-out 1-NN label consistency of the embedding space on
    the deterministic 1-in-10 probe subset
    (operators/similarity.py:knn_label_consistency) — the geometry-
    respects-labels audit; nearest non-self neighbor under the exact
    micro-cosine total order, one partitioned window."""
    from .operators.similarity import knn_label_consistency

    return knn_label_consistency(
        _t(spark, sf, "embeddings"), "vec_id", "embedding", "label", 10
    )


@_q(
    "qc39_theil_decomposition",
    """
    WITH base AS (SELECT source AS g, n_chars AS x FROM documents
                  WHERE n_chars > 0),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot,
                   CAST(sum(x) AS BIGINT) AS xtot
            FROM base),
    hist AS (SELECT x, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1),
    cells AS (SELECT CAST(c * x * (
                       CAST(round(ln(CAST(ntot * x AS DOUBLE)) * 1000000)
                            AS BIGINT)
                       - CAST(round(ln(CAST(xtot AS DOUBLE)) * 1000000)
                              AS BIGINT)) AS BIGINT) AS t
              FROM hist CROSS JOIN tot),
    total AS (SELECT CAST(sum(t) AS BIGINT) AS ts FROM cells),
    per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(x) AS BIGINT) AS sum_g
            FROM base GROUP BY 1),
    per2 AS (SELECT g, n_g, sum_g,
                    CAST(round(sum_g * 1000000 / xtot) AS BIGINT)
                      AS share_micro,
                    CAST(round(CAST(sum_g AS DOUBLE) * (
                         CAST(round(ln(CAST(sum_g * ntot AS DOUBLE))
                              * 1000000) AS BIGINT)
                         - CAST(round(ln(CAST(xtot * n_g AS DOUBLE))
                                * 1000000) AS BIGINT)) / xtot) AS BIGINT)
                      AS tb_term_micro
             FROM per CROSS JOIN tot),
    tb AS (SELECT CAST(sum(tb_term_micro) AS BIGINT)
                    AS theil_between_micro
           FROM per2),
    g2 AS (SELECT CAST(round(CAST(ts AS DOUBLE) / xtot) AS BIGINT)
                    AS theil_total_micro,
                  theil_between_micro
           FROM total CROSS JOIN tb CROSS JOIN tot),
    g3 AS (SELECT theil_total_micro, theil_between_micro,
                  CAST(theil_total_micro - theil_between_micro AS BIGINT)
                    AS theil_within_micro
           FROM g2)
    SELECT per2.g AS source, per2.n_g, per2.sum_g, per2.share_micro,
           per2.tb_term_micro, g3.theil_total_micro,
           g3.theil_between_micro, g3.theil_within_micro
    FROM per2 CROSS JOIN g3
    """,
)
def qc39(spark, sf):
    """Theil-T inequality of document sizes with the exact
    between/within source decomposition
    (operators/stats.py:theil_decomposition) — the decomposability
    Gini lacks (qb32); ln once per distinct value / per group (q66
    discipline), integer numerator sums, identity T = T_b + T_w holds
    exactly in micro ints by construction."""
    from .operators.stats import theil_decomposition

    return theil_decomposition(_t(spark, sf, "documents"), "source", "n_chars")


# ---------------------------------------------------------------------------
# round-4 wave 55: records stationarity + distribution-free median CI
# ---------------------------------------------------------------------------


@_q(
    "qc40_record_rate",
    """
    WITH daily AS (SELECT event_type AS e, epoch_us(ts) // 86400000000 AS d,
                          CAST(sum(CAST(round(value * 100) AS BIGINT))
                               AS BIGINT) AS dv
                   FROM events GROUP BY 1, 2),
    staged AS (SELECT e, d, dv,
                      row_number() OVER (PARTITION BY e ORDER BY d) AS i,
                      max(dv) OVER (PARTITION BY e ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS prevmax
               FROM daily),
    per AS (SELECT e, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(CASE WHEN prevmax IS NULL OR dv > prevmax
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
                   CAST(sum(CAST(round(1000000 / i) AS BIGINT)) AS BIGINT)
                     AS expected_micro,
                   CAST(sum(CAST(round(1000000 / i) AS BIGINT)
                            - CAST(round(1000000 / (i * i)) AS BIGINT))
                        AS BIGINT) AS var_micro
            FROM staged GROUP BY 1)
    SELECT e AS event_type, n_days, n_records, expected_micro, var_micro,
           CASE WHEN var_micro > 0 THEN
             CAST(round((n_records - expected_micro / 1000000.0)
                  / sqrt(var_micro / 1000000.0) * 1000) AS BIGINT)
           END AS z_milli
    FROM per
    """,
)
def qc40(spark, sf):
    """Record-count stationarity test per event type
    (operators/temporal.py:record_rate_test) — observed running-max
    records vs the i.i.d. expectation H_n (records theory), the
    cheapest trend detector next to Mann-Kendall (qb87); harmonic
    moments micro-rounded per k then integer-summed."""
    from .operators.temporal import record_rate_test

    return record_rate_test(_t(spark, sf, "events"))


@_q(
    "qc41_median_ci",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS x
                  FROM events),
    hist AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    staged AS (SELECT g, x,
                      sum(c) OVER (PARTITION BY g ORDER BY x) AS cum,
                      sum(c) OVER (PARTITION BY g) AS n
               FROM hist),
    rk AS (SELECT g, x, cum, n,
                  greatest(1, CAST(ceil(n / 2.0
                       - 1.96 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT))
                    AS lo,
                  least(n, CAST(floor(n / 2.0 + 1
                       + 1.96 * sqrt(CAST(n AS DOUBLE)) / 2.0) AS BIGINT))
                    AS hi,
                  CAST(ceil(n / 2.0) AS BIGINT) AS md
           FROM staged)
    SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
           CAST(max(lo) AS BIGINT) AS lo_rank,
           CAST(max(hi) AS BIGINT) AS hi_rank,
           CAST(min(CASE WHEN cum >= md THEN x END) AS BIGINT) AS median,
           CAST(min(CASE WHEN cum >= lo THEN x END) AS BIGINT) AS ci_lo,
           CAST(min(CASE WHEN cum >= hi THEN x END) AS BIGINT) AS ci_hi
    FROM rk GROUP BY 1
    """,
)
def qc41(spark, sf):
    """Distribution-free 95% median CI per event type from order
    statistics (operators/stats.py:median_ci) — the binomial
    order-statistic bracket, no normality, no bootstrap; ranks one
    fixed DAG on n, values straight from the per-group histogram
    cumulative."""
    from .operators.stats import median_ci

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return median_ci(e, "event_type", "cents")


# ---------------------------------------------------------------------------
# round-4 wave 56: aggregate retrieval diversity + calibration slope
# ---------------------------------------------------------------------------


@_q(
    "qc42_rec_coverage",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 12),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qv) * 1e6)
                  AS BIGINT) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS r
        FROM scored)
      WHERE r <= 10),
    counts AS (SELECT vec_id AS i, CAST(count(*) AS BIGINT) AS c
               FROM topk GROUP BY 1),
    tot AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                   CAST(count(*) AS BIGINT) AS n_slots
            FROM topk),
    cat AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS catalog_size
            FROM embeddings),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_recommended,
                   CAST(sum(c * c) AS BIGINT) AS sc2,
                   CAST(sum(c * (
                        CAST(round(ln(CAST(n_slots AS DOUBLE)) * 1000000)
                             AS BIGINT)
                        - CAST(round(ln(CAST(c AS DOUBLE)) * 1000000)
                               AS BIGINT))) AS BIGINT) AS nov,
                   CAST(max(n_queries) AS BIGINT) AS n_queries,
                   CAST(max(n_slots) AS BIGINT) AS n_slots
            FROM counts CROSS JOIN tot)
    SELECT n_queries, n_slots, cat.catalog_size, n_recommended,
           CAST(round(n_recommended * 1000000 / cat.catalog_size)
                AS BIGINT) AS coverage_micro,
           CAST(round(CAST(sc2 AS DOUBLE) * 1000000
                / (1.0 * n_slots * n_slots)) AS BIGINT) AS rec_hhi_micro,
           CAST(round(CAST(nov AS DOUBLE) / n_slots) AS BIGINT)
             AS novelty_micro
    FROM agg CROSS JOIN cat
    """,
)
def qc42(spark, sf):
    """Catalog coverage + recommendation HHI + novelty of the qa89
    top-10 lists (operators/similarity.py:recommendation_coverage) —
    aggregate diversity next to qc20's per-list ILD; ln once per
    distinct served-count (q66 discipline)."""
    from .operators.similarity import (
        cosine_cols,
        recommendation_coverage,
    )

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id")
    )
    return recommendation_coverage(topk, e, "query_id", "vec_id")


@_q(
    "qc43_calibration_slope",
    """
    WITH ext AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                 FROM documents),
    b AS (
      SELECT CAST(floor((n_chars - ext.mn) * 10 / (ext.mx - ext.mn + 1))
                  AS BIGINT) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents CROSS JOIN ext),
    per0 AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(y) AS BIGINT) AS pos
             FROM b GROUP BY 1),
    per AS (SELECT n, pos,
                   CAST((2 * bin + 1) * 1000000 / 20 AS BIGINT) AS cf
            FROM per0),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_used,
                 CAST(sum(n) AS BIGINT) AS W,
                 CAST(sum(n * cf) AS BIGINT) AS swc,
                 CAST(sum(pos) AS BIGINT) AS swy,
                 CAST(sum(n * cf * cf) AS BIGINT) AS swcc,
                 CAST(sum(pos * cf) AS BIGINT) AS swcy
          FROM per),
    c AS (SELECT n_bins_used, W, swc, swy,
                 (CAST(W AS DOUBLE) * swcy * 1000000
                  - CAST(swc AS DOUBLE) * swy * 1000000) AS num,
                 (CAST(W AS DOUBLE) * swcc
                  - CAST(swc AS DOUBLE) * swc) AS den
          FROM s)
    SELECT W AS n, n_bins_used,
           CASE WHEN den > 0 THEN
             CAST(round(num / den * 1000) AS BIGINT) END AS slope_milli,
           CASE WHEN den > 0 THEN
             CAST(round(CAST(swy AS DOUBLE) * 1000000 / W
                  - num / den * (CAST(swc AS DOUBLE) / W)) AS BIGINT)
           END AS intercept_micro,
           CAST(round(CAST(swy AS DOUBLE) * 1000000 / W
                - CAST(swc AS DOUBLE) / W) AS BIGINT) AS large_gap_micro
    FROM c
    """,
)
def qc43(spark, sf):
    """Calibration slope + intercept + calibration-in-the-large on
    qa82's bins (operators/evaluate.py:calibration_slope) — the
    two-number recalibration summary (slope < 1 = overconfident);
    weighted OLS exact from six integer sums, one fixed DAG."""
    from .operators.evaluate import calibration_slope

    d = _t(spark, sf, "documents")
    return calibration_slope(
        d, "n_chars", F.col("lang") == F.lit("en"), n_bins=10
    )


# ---------------------------------------------------------------------------
# round-4 wave 57: information-theoretic label agreement + IV estimate
# ---------------------------------------------------------------------------


@_q(
    "qc44_label_nmi",
    """
    WITH cells AS (SELECT lang AS x, source AS y,
                          CAST(count(*) AS BIGINT) AS n
                   FROM documents GROUP BY 1, 2),
    rx AS (SELECT x, CAST(sum(n) AS BIGINT) AS rxc FROM cells GROUP BY 1),
    ry AS (SELECT y, CAST(sum(n) AS BIGINT) AS ryc FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM cells),
    sx AS (SELECT CAST(count(*) AS BIGINT) AS n_x,
                  CAST(sum(rxc * CAST(round(ln(CAST(rxc AS DOUBLE))
                                            * 1000000) AS BIGINT))
                       AS BIGINT) AS sxs
           FROM rx),
    sy AS (SELECT CAST(count(*) AS BIGINT) AS n_y,
                  CAST(sum(ryc * CAST(round(ln(CAST(ryc AS DOUBLE))
                                            * 1000000) AS BIGINT))
                       AS BIGINT) AS sys
           FROM ry),
    mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                  CAST(sum(c.n * (
                       CAST(round(ln(CAST(t.tn AS DOUBLE)) * 1000000)
                            AS BIGINT)
                     + CAST(round(ln(CAST(c.n AS DOUBLE)) * 1000000)
                            AS BIGINT)
                     - CAST(round(ln(CAST(rx.rxc AS DOUBLE)) * 1000000)
                            AS BIGINT)
                     - CAST(round(ln(CAST(ry.ryc AS DOUBLE)) * 1000000)
                            AS BIGINT))) AS BIGINT) AS si
           FROM cells c JOIN rx USING (x) JOIN ry USING (y)
           CROSS JOIN tot t),
    f AS (SELECT tn, n_x, n_y, n_cells, si,
                 tn * CAST(round(ln(CAST(tn AS DOUBLE)) * 1000000)
                           AS BIGINT) - sxs AS hx,
                 tn * CAST(round(ln(CAST(tn AS DOUBLE)) * 1000000)
                           AS BIGINT) - sys AS hy
          FROM mi CROSS JOIN tot CROSS JOIN sx CROSS JOIN sy)
    SELECT tn AS n, n_x, n_y, n_cells,
           CAST(round(hx / tn) AS BIGINT) AS hx_micro,
           CAST(round(hy / tn) AS BIGINT) AS hy_micro,
           CAST(round(si / tn) AS BIGINT) AS mi_micro,
           CASE WHEN hx + hy > 0 THEN
             CAST(round(CAST(2 * si AS DOUBLE) * 1000000 / (hx + hy))
                  AS BIGINT) END AS nmi_micro,
           CAST(round((hx + hy - 2 * si) / tn) AS BIGINT) AS vi_micro
    FROM f
    """,
)
def qc44(spark, sf):
    """Normalized mutual information + variation of information between
    the lang and source labelings (operators/clustering.py:
    label_agreement_info) — the information-theoretic agreement view
    next to qa80's pair-counting ARI/B³; ln once per distinct integer
    count (q66 discipline), N cancels in NMI so it is two integer sums
    and one terminal division."""
    from .operators.clustering import label_agreement_info

    return label_agreement_info(
        _t(spark, sf, "documents"), "lang", "source"
    )


@_q(
    "qc45_wald_iv",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events),
    ext AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
    u AS (SELECT user_id, min(us) AS fus,
                 CAST(count(*) AS BIGINT) AS ne,
                 CAST(sum(cents) AS BIGINT) AS y
          FROM e GROUP BY 1),
    f AS (SELECT CASE WHEN fus * 2 < ext.lo + ext.hi THEN 1 ELSE 0 END
                   AS z,
                 CASE WHEN ne >= 20 THEN 1 ELSE 0 END AS t, y
          FROM u CROSS JOIN ext),
    arms AS (SELECT z, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(t) AS BIGINT) AS st,
                    CAST(sum(y) AS BIGINT) AS sy
             FROM f GROUP BY 1),
    one AS (SELECT CAST(max(CASE WHEN z = 1 THEN n END) AS BIGINT)
                     AS n_z1,
                   CAST(max(CASE WHEN z = 0 THEN n END) AS BIGINT)
                     AS n_z0,
                   CAST(max(CASE WHEN z = 1 THEN st END) AS BIGINT)
                     AS st1,
                   CAST(max(CASE WHEN z = 0 THEN st END) AS BIGINT)
                     AS st0,
                   CAST(max(CASE WHEN z = 1 THEN sy END) AS BIGINT)
                     AS sy1,
                   CAST(max(CASE WHEN z = 0 THEN sy END) AS BIGINT)
                     AS sy0
            FROM arms)
    SELECT n_z1, n_z0,
           CAST(round(st1 * 1000000 / n_z1) AS BIGINT) AS t_rate1_micro,
           CAST(round(st0 * 1000000 / n_z0) AS BIGINT) AS t_rate0_micro,
           CASE WHEN st1 * n_z0 - st0 * n_z1 <> 0 THEN
             CAST(round(CAST(st1 * n_z0 - st0 * n_z1 AS DOUBLE) * 1000000
                        / (n_z1 * n_z0)) AS BIGINT)
           END AS first_stage_micro,
           CAST(round(CAST(sy1 * n_z0 - sy0 * n_z1 AS DOUBLE) * 1000000
                      / (n_z1 * n_z0)) AS BIGINT) AS itt_micro,
           CASE WHEN st1 * n_z0 - st0 * n_z1 <> 0 THEN
             CAST(round(CAST(sy1 * n_z0 - sy0 * n_z1 AS DOUBLE) * 1000000
                        / (st1 * n_z0 - st0 * n_z1)) AS BIGINT)
           END AS late_micro
    FROM one
    """,
)
def qc45(spark, sf):
    """Wald IV / encouragement-design LATE (operators/temporal.py:
    wald_iv): instrument = first-seen in the early half of the time
    range (qb10's midpoint idiom), treatment = heavy user (>= 20
    events), outcome = total spend cents; both ITT contrasts
    cross-multiply to integers over the same n1*n0 denominator, which
    cancels in the ratio — pure int64 until one terminal division."""
    from .operators.temporal import wald_iv

    e = _t(spark, sf, "events")
    ext = e.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_hi"),
    )
    users = e.groupBy("user_id").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_fus"),
        F.count("*").cast("long").alias("_ne"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("_y"),
    )
    frame = users.crossJoin(F.broadcast(ext)).select(
        (F.col("_fus") * 2 < F.col("_lo") + F.col("_hi")).alias("_z"),
        (F.col("_ne") >= 20).alias("_t"),
        F.col("_y"),
    )
    return wald_iv(frame, "_z", "_t", "_y")


# ---------------------------------------------------------------------------
# round-4 wave 58: tail-weighted EDF drift + classical seasonal indices
# ---------------------------------------------------------------------------


@_q(
    "qc46_anderson_darling",
    """
    WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                      CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS s
               FROM events),
    hist AS (SELECT v, CAST(sum(1 - s) AS BIGINT) AS la,
                    CAST(sum(s) AS BIGINT) AS lb
             FROM b GROUP BY 1),
    cum AS (SELECT v, la + lb AS l, la, lb,
                   CAST(sum(la + lb) OVER (ORDER BY v) AS BIGINT) AS cm,
                   CAST(sum(la) OVER (ORDER BY v) AS BIGINT) AS cma,
                   CAST(sum(lb) OVER (ORDER BY v) AS BIGINT) AS cmb
            FROM hist),
    tot AS (SELECT CAST(sum(la) AS BIGINT) AS na,
                   CAST(sum(lb) AS BIGINT) AS nb
            FROM hist),
    t AS (SELECT l, na, nb, na + nb AS nn,
                 2 * cm - l AS dd,
                 2 * cma - la AS mda,
                 2 * cmb - lb AS mdb
          FROM cum CROSS JOIN tot),
    terms AS (
      SELECT CAST(round(l * CAST(nn * mda - na * dd AS DOUBLE)
                          * (nn * mda - na * dd)
                        / (nn * (dd * (2 * nn - dd) - nn * l))
                        * 1000000) AS BIGINT) AS ta,
             CAST(round(l * CAST(nn * mdb - nb * dd AS DOUBLE)
                          * (nn * mdb - nb * dd)
                        / (nn * (dd * (2 * nn - dd) - nn * l))
                        * 1000000) AS BIGINT) AS tb
      FROM t
      WHERE nn * (dd * (2 * nn - dd) - nn * l) > 0),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
                   CAST(sum(ta) AS BIGINT) AS sa,
                   CAST(sum(tb) AS BIGINT) AS sb
            FROM terms)
    SELECT na AS n_a, nb AS n_b, n_values,
           CAST(round(CAST(na + nb - 1 AS DOUBLE) / (na + nb)
                * (CAST(sa AS DOUBLE) / na + CAST(sb AS DOUBLE) / nb))
                AS BIGINT) AS a2_micro
    FROM agg CROSS JOIN tot
    """,
)
def qc46(spark, sf):
    """Two-sample Anderson-Darling criterion, tie-adjusted midrank
    form (operators/stats.py:anderson_darling_2samp) — the
    tail-weighted EDF distance completing KS (qa08) / CvM (qc37) /
    Wasserstein (qb96); doubled-midrank positions keep every formula
    input int64 (qa22 idiom), per-value terms micro-rounded from one
    DAG then integer-summed.  Sides: odd vs even user_id over spend
    cents."""
    from .operators.stats import anderson_darling_2samp

    e = _t(spark, sf, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 2 == 1).alias("odd"),
    )
    return anderson_darling_2samp(e, "cents", "odd")


@_q(
    "qc47_seasonal_indices",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS tot
      FROM events GROUP BY 1),
    r AS (SELECT (d + 4) % 7 AS dow,
                 CAST(sum(tot) OVER (ORDER BY d RANGE BETWEEN 3 PRECEDING
                                     AND 3 FOLLOWING) AS BIGINT) AS ws,
                 CAST(count(*) OVER (ORDER BY d RANGE BETWEEN 3 PRECEDING
                                     AND 3 FOLLOWING) AS BIGINT) AS wc,
                 tot
          FROM daily),
    ratios AS (SELECT dow,
                      CAST(round(tot * 1000000 * wc / ws) AS BIGINT) AS rt
               FROM r WHERE ws > 0),
    per AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(round(sum(rt) / count(*)) AS BIGINT)
                     AS index_micro
            FROM ratios GROUP BY 1),
    s AS (SELECT CAST(sum(index_micro) AS BIGINT) AS si FROM per)
    SELECT dow, n_days, index_micro,
           CAST(round(index_micro * 7 * 1000000 / si) AS BIGINT)
             AS index_norm_micro
    FROM per CROSS JOIN s
    """,
)
def qc47(spark, sf):
    """Classical ratio-to-moving-average weekly seasonal indices
    (operators/temporal.py:seasonal_indices) — the decomposition view
    next to qa64's seasonality R² and qb72's seasonal-naive backtest:
    a multiplicative per-weekday index from day-total / centered-7-day
    MA ratios, the MA cross-multiplied away so every ratio is one
    int64 DAG; windows run on the day spine only."""
    from .operators.temporal import seasonal_indices

    e = _t(spark, sf, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return seasonal_indices(e, "ts", "cents", half_window=3)


# ---------------------------------------------------------------------------
# round-4 wave 59: survival-model discrimination + concordance family
# ---------------------------------------------------------------------------


@_q(
    "qc48_concordance_index",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s2 AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l,
                    CAST(count(*) AS BIGINT) AS c
             FROM s2 GROUP BY 1, 2),
    gm AS (SELECT max(ts) AS g FROM events),
    subj AS (
      SELECT (epoch_us(l) - epoch_us(f)) // 1000000 AS t,
             CASE WHEN epoch_us(g) - epoch_us(l) > 1800000000
                  THEN 1 ELSE 0 END AS e,
             least(c, 39) AS b
      FROM sess CROSS JOIN gm),
    cells AS (SELECT t, b, CAST(count(*) AS BIGINT) AS nall,
                     CAST(sum(e) AS BIGINT) AS nevt,
                     CAST(sum(1 - e) AS BIGINT) AS ncens
              FROM subj GROUP BY 1, 2),
    grid AS (
      SELECT tt.t, bb.b, coalesce(c.nall, 0) AS nall,
             coalesce(c.nevt, 0) AS nevt, coalesce(c.ncens, 0) AS ncens
      FROM (SELECT DISTINCT t FROM cells) tt
      CROSS JOIN (SELECT DISTINCT b FROM cells) bb
      LEFT JOIN cells c USING (t, b)),
    g2 AS (SELECT t, b, nevt,
                  CAST(sum(nall) OVER (PARTITION BY b)
                       - sum(nall) OVER (PARTITION BY b ORDER BY t
                                         ROWS UNBOUNDED PRECEDING)
                       + ncens AS BIGINT) AS later2
           FROM grid),
    g3 AS (SELECT nevt, later2 AS tied,
                  CAST(sum(later2) OVER (PARTITION BY t)
                       - sum(later2) OVER (PARTITION BY t ORDER BY b
                                           ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS conc,
                  CAST(sum(later2) OVER (PARTITION BY t) AS BIGINT) AS cmp
           FROM g2),
    agg AS (SELECT CAST(sum(nevt * conc) AS BIGINT) AS concordant,
                   CAST(sum(nevt * tied) AS BIGINT) AS tied_score,
                   CAST(sum(nevt * cmp) AS BIGINT) AS comparable
            FROM g3 WHERE nevt > 0),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(e) AS BIGINT) AS n_events
            FROM subj)
    SELECT n, n_events, comparable, concordant, tied_score,
           CASE WHEN comparable > 0 THEN
             CAST(round(CAST(2 * concordant + tied_score AS DOUBLE)
                        * 1000000 / (2 * comparable)) AS BIGINT)
           END AS c_index_micro
    FROM agg CROSS JOIN tot
    """,
)
def qc48(spark, sf):
    """Harrell's C-index of session size as a prognostic score for
    session lifetime, censoring-aware (operators/evaluate.py:
    concordance_index) — the survival-model discrimination metric
    closing the eval loop KM (qa67) / Nelson-Aalen (qb85) / RMST
    (qc12) / log-rank (qb91) opened; qa67's exact session frame
    (30-min cuts, end-censoring), scores clamped to the qb93 grid,
    all pair counts from partitioned windows over the
    (time spine × ≤40 buckets) grid — never a pair join."""
    from .operators.evaluate import concordance_index

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
        "event_id",
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.select(
            "user_id", "ts", F.sum("new_s").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("f"),
            F.max("ts").alias("l"),
            F.count("*").cast("long").alias("c"),
        )
    )
    gm = e.agg(F.max("ts").alias("g"))
    um = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    subj = sess.crossJoin(F.broadcast(gm)).select(
        ((um("l") - um("f")) / F.lit(1_000_000)).cast("long").alias("t"),
        (um("g") - um("l") > 1_800_000_000).alias("e"),
        F.col("c").alias("s"),
    )
    return concordance_index(subj, "t", "e", "s", max_score=39)


@_q(
    "qc49_ordinal_association",
    """
    WITH per AS (
      SELECT user_id,
             least(CAST(count(DISTINCT epoch_us(ts) // 86400000000)
                        AS BIGINT), 19) AS x,
             least(CAST(sum(CAST(round(value * 100) AS BIGINT)) // 2000
                        AS BIGINT), 19) AS y
      FROM events GROUP BY 1),
    g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM per
          GROUP BY 1, 2),
    cd AS (SELECT
             CAST(sum(CASE WHEN b.x > a.x AND b.y > a.y
                           THEN a.n * b.n ELSE 0 END) AS BIGINT)
               AS concordant,
             CAST(sum(CASE WHEN b.x > a.x AND b.y < a.y
                           THEN a.n * b.n ELSE 0 END) AS BIGINT)
               AS discordant
           FROM g a CROSS JOIN g b),
    tx AS (SELECT CAST(sum(t * (t - 1)) / 2 AS BIGINT) AS txp
           FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY x)),
    ty AS (SELECT CAST(sum(t * (t - 1)) / 2 AS BIGINT) AS typ
           FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY y)),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells
            FROM g),
    f AS (SELECT *, CAST(tot.n * (tot.n - 1) / 2 AS BIGINT) AS n0
          FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot)
    SELECT n, n_cells, concordant, discordant,
           CASE WHEN concordant + discordant > 0 THEN
             CAST(round((concordant - discordant) * 1000
                        / (concordant + discordant)) AS BIGINT)
           END AS gamma_milli,
           CASE WHEN n0 - txp > 0 THEN
             CAST(round((concordant - discordant) * 1000 / (n0 - txp))
                  AS BIGINT) END AS somers_d_yx_milli,
           CASE WHEN n0 - typ > 0 THEN
             CAST(round((concordant - discordant) * 1000 / (n0 - typ))
                  AS BIGINT) END AS somers_d_xy_milli
    FROM f
    """,
)
def qc49(spark, sf):
    """Goodman-Kruskal gamma + Somers' D both ways for per-user
    (active-days, spend) ordinal pairs (operators/stats.py:
    ordinal_association) — the concordance family around qb93's
    tau-b, from the same bounded-grid self-join; D_yx is the
    asymmetric x→y effect size (2·AUC−1 in the binary case).  Every
    pair count exact int64, each index one terminal division."""
    from .operators.stats import ordinal_association

    e = _t(spark, sf, "events")
    per = e.groupBy("user_id").agg(
        F.countDistinct(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
        )
        .cast("long")
        .alias("x"),
        F.expr(
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) div 2000"
            " AS BIGINT)"
        ).alias("y"),
    )
    return ordinal_association(per, "x", "y", max_level=19)


# ---------------------------------------------------------------------------
# round-4 wave 60: residual autocorrelation + calibration significance
# ---------------------------------------------------------------------------


@_q(
    "qc50_durbin_watson",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1),
    idx AS (SELECT row_number() OVER (ORDER BY d) - 1 AS t, y FROM daily),
    s AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                 CAST(sum(t) AS BIGINT) AS st,
                 CAST(sum(t * t) AS BIGINT) AS stt,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(t * y) AS BIGINT) AS sty
          FROM idx),
    res AS (SELECT t,
                   CAST((nd * stt - st * st) * y
                        - (sy * stt - st * sty)
                        - (nd * sty - st * sy) * t AS BIGINT) AS r,
                   nd * sty - st * sy AS db,
                   nd * stt - st * st AS dd
            FROM idx CROSS JOIN s),
    res2 AS (SELECT r, r - lag(r) OVER (ORDER BY t) AS dr, db, dd
             FROM res),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                   sum(CAST(r AS HUGEINT) * r) AS sr2,
                   sum(CAST(dr AS HUGEINT) * dr) AS sd2,
                   CAST(max(db) AS BIGINT) AS dbx,
                   CAST(max(dd) AS BIGINT) AS ddx
            FROM res2)
    SELECT n_days,
           CASE WHEN ddx <> 0 THEN
             CAST(round(CAST(dbx AS DOUBLE) * 1000 / ddx) AS BIGINT)
           END AS slope_milli,
           CASE WHEN CAST(sr2 AS DOUBLE) > 0 THEN
             CAST(round(CAST(sd2 AS DOUBLE) * 1000 / CAST(sr2 AS DOUBLE))
                  AS BIGINT) END AS dw_milli
    FROM agg
    """,
)
def qc50(spark, sf):
    """Durbin-Watson autocorrelation of daily-spend residuals around
    the OLS time trend (operators/stats.py:durbin_watson_daily) — the
    detrended complement to qa70's raw ACF; the OLS denominator
    Dd = n·Σt²−(Σt)² clears every fraction so scaled residuals are
    pure int64, the two squared sums accumulate as decimal(38,0) ↔
    HUGEINT (the approved decimal-cast-sums pattern), Dd² cancels in
    the ratio."""
    from .operators.stats import durbin_watson_daily

    e = _t(spark, sf, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return durbin_watson_daily(e, "ts", "cents")


@_q(
    "qc51_spiegelhalter_z",
    """
    WITH ext AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx
                 FROM documents),
    b AS (
      SELECT CAST(floor((n_chars - ext.mn) * 10 / (ext.mx - ext.mn + 1))
                  AS BIGINT) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents CROSS JOIN ext),
    per AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb,
                   CAST(sum(y) AS BIGINT) AS pos
            FROM b GROUP BY 1),
    t AS (SELECT nb, pos,
                 CAST((2 * bin + 1) * 1000000 / 20 AS BIGINT) AS cf
          FROM per),
    terms AS (
      SELECT nb,
             CAST((pos * 1000000 - nb * cf) * (1000000 - 2 * cf)
                  AS BIGINT) AS nm,
             CAST(round(nb
                  * (CAST(1000000 - 2 * cf AS DOUBLE) / 1000000)
                  * (CAST(1000000 - 2 * cf AS DOUBLE) / 1000000)
                  * (CAST(cf AS DOUBLE) / 1000000)
                  * (CAST(1000000 - cf AS DOUBLE) / 1000000)
                  * 1000000) AS BIGINT) AS vr
      FROM t),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_used,
                   CAST(sum(nb) AS BIGINT) AS n,
                   CAST(sum(nm) AS BIGINT) AS num_micro2,
                   CAST(sum(vr) AS BIGINT) AS var_micro
            FROM terms)
    SELECT n, n_bins_used, num_micro2, var_micro,
           CASE WHEN var_micro > 0 THEN
             CAST(round(CAST(num_micro2 AS DOUBLE) / 1e12
                        / sqrt(CAST(var_micro AS DOUBLE) / 1000000)
                        * 1000) AS BIGINT) END AS z_milli
    FROM agg
    """,
)
def qc51(spark, sf):
    """Spiegelhalter's Z calibration significance test on qa82/qc43's
    equi-width bins (operators/evaluate.py:spiegelhalter_z) — the
    hypothesis-test leg of the calibration battery (Z ~ N(0,1) under
    perfect calibration); per-bin numerators pure int64, variance
    terms micro-rounded from one fixed DAG then integer-summed, one
    terminal division over a correctly-rounded sqrt."""
    from .operators.evaluate import spiegelhalter_z

    d = _t(spark, sf, "documents")
    return spiegelhalter_z(
        d, "n_chars", F.col("lang") == F.lit("en"), n_bins=10
    )


# ---------------------------------------------------------------------------
# round-4 wave 61: sketch-confirmed heavy hitters + paired marginal shift
# ---------------------------------------------------------------------------


@_q(
    "qc52_heavy_hitters",
    r"""
    WITH norm AS (
      SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      FROM documents),
    toks AS (SELECT unnest(string_split(t, ' ')) AS value FROM norm),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM toks),
    counts AS (SELECT value, CAST(count(*) AS BIGINT) AS freq
               FROM toks GROUP BY 1)
    SELECT value, freq,
           CAST(round(freq * 1000000 / tot.nt) AS BIGINT) AS share_micro
    FROM counts CROSS JOIN tot
    WHERE freq * 64 > tot.nt
    """,
)
def qc52(spark, sf):
    """Exact heavy-hitter tokens via the two-pass Misra-Gries plan
    (operators/sketch.py:misra_gries_heavy_hitters) — per-partition
    k-counter MG summaries inside mapInPandas (candidates are a
    SUPERSET of every value with freq > N/k under any partitioning —
    the mergeable-summaries bound), then a broadcast semi-join exact
    recount; the final set and counts are partition-invariant, which
    is why a plain exact-SQL oracle can check a sketch."""
    from .operators.sketch import misra_gries_heavy_hitters

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(
            F.split(
                F.lower(
                    F.trim(F.regexp_replace("text", r"\s+", " "))
                ),
                " ",
            )
        ).alias("value")
    )
    return misra_gries_heavy_hitters(toks, "value", k=64)


@_q(
    "qc53_stuart_maxwell",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    ext AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
    per AS (
      SELECT user_id,
             CAST(sum(CASE WHEN us * 2 < ext.lo + ext.hi THEN 1 ELSE 0
                      END) AS BIGINT) AS npre,
             CAST(sum(CASE WHEN us * 2 < ext.lo + ext.hi THEN 0 ELSE 1
                      END) AS BIGINT) AS npost
      FROM e CROSS JOIN ext GROUP BY 1),
    cats AS (
      SELECT CASE WHEN npre <= 2 THEN 0 WHEN npre <= 8 THEN 1 ELSE 2
             END AS p,
             CASE WHEN npost <= 2 THEN 0 WHEN npost <= 8 THEN 1 ELSE 2
             END AS q
      FROM per),
    one AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN p=0 AND q=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(CASE WHEN p=0 AND q=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN p=0 AND q=2 THEN 1 ELSE 0 END) AS BIGINT) AS n02,
             CAST(sum(CASE WHEN p=1 AND q=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN p=1 AND q=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN p=1 AND q=2 THEN 1 ELSE 0 END) AS BIGINT) AS n12,
             CAST(sum(CASE WHEN p=2 AND q=0 THEN 1 ELSE 0 END) AS BIGINT) AS n20,
             CAST(sum(CASE WHEN p=2 AND q=1 THEN 1 ELSE 0 END) AS BIGINT) AS n21,
             CAST(sum(CASE WHEN p=2 AND q=2 THEN 1 ELSE 0 END) AS BIGINT) AS n22
      FROM cats),
    f AS (
      SELECT n,
             (n00+n01+n02) - (n00+n10+n20) AS d0,
             (n10+n11+n12) - (n01+n11+n21) AS d1,
             (n00+n01+n02) + (n00+n10+n20) - 2*n00 AS s00,
             (n10+n11+n12) + (n01+n11+n21) - 2*n11 AS s11,
             -(n01 + n10) AS s01
      FROM one)
    SELECT n, CAST(d0 AS BIGINT) AS d0, CAST(d1 AS BIGINT) AS d1,
           CAST(s00 AS BIGINT) AS s00, CAST(s01 AS BIGINT) AS s01,
           CAST(s11 AS BIGINT) AS s11,
           CAST(s00*s11 - s01*s01 AS BIGINT) AS det,
           CASE WHEN s00*s11 - s01*s01 > 0 THEN
             CAST(round(CAST(d0*d0*s11 - 2*d0*d1*s01 + d1*d1*s00
                             AS DOUBLE) * 1000
                        / (s00*s11 - s01*s01)) AS BIGINT)
           END AS chi2_milli
    FROM f
    """,
)
def qc53(spark, sf):
    """Stuart-Maxwell marginal-homogeneity test on per-user activity
    terciles pre vs post the time-range midpoint (operators/stats.py:
    stuart_maxwell) — McNemar's 3-category generalization; the 2×2
    adjugate keeps χ² pure int64 until one terminal division."""
    from .operators.stats import stuart_maxwell

    e = _t(spark, sf, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
    )
    ext = e.agg(F.min("_us").alias("_lo"), F.max("_us").alias("_hi"))
    per = (
        e.crossJoin(F.broadcast(ext))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("_us") * 2 < F.col("_lo") + F.col("_hi"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("npre"),
            F.sum(
                F.when(
                    F.col("_us") * 2 < F.col("_lo") + F.col("_hi"), 0
                ).otherwise(1)
            )
            .cast("long")
            .alias("npost"),
        )
    )
    tercile = lambda c: (  # noqa: E731
        F.when(F.col(c) <= 2, 0).when(F.col(c) <= 8, 1).otherwise(2)
    )
    cats = per.select(
        tercile("npre").alias("p"), tercile("npost").alias("q")
    )
    return stuart_maxwell(cats, "p", "q")


# ---------------------------------------------------------------------------
# round-4 wave 62: survival uncertainty bands + seed-set centrality
# ---------------------------------------------------------------------------


@_q("qc54_greenwood_ci")
def qc54(spark, sf):
    """Greenwood pointwise 95% confidence bands over qa67's
    Kaplan-Meier curve (operators/stats.py:greenwood_bands) — hazard
    variance terms d/(n(n−d)) pico-rounded from integer risk-set
    counts then integer-cumsummed; the band is one fixed DAG over
    (ln_s_micro, gcum).  Engine side composes ON qa67's output frame,
    oracle wraps qa67's SQL verbatim (the qb97/qc12 reuse idiom)."""
    from .operators.stats import greenwood_bands

    km = QUERIES["qa67_kaplan_meier"](spark, sf)
    return greenwood_bands(km, z_milli=1960)


ORACLES["qc54_greenwood_ci"] = (
    "WITH base AS (\n"
    + ORACLES["qa67_kaplan_meier"]
    + """
    ),
    g AS (SELECT duration, survival_micro, ln_s_micro,
                 CASE WHEN n_at_risk > n_events THEN
                   CAST(round(n_events * 1e12
                        / (n_at_risk * (n_at_risk - n_events)))
                        AS BIGINT) END AS gp
          FROM base),
    c AS (SELECT duration, survival_micro, ln_s_micro,
                 CAST(sum(gp) OVER (ORDER BY duration
                                    ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS gcum
          FROM g)
    SELECT duration, survival_micro,
           CASE WHEN ln_s_micro IS NOT NULL THEN
             CAST(round(exp(CAST(ln_s_micro AS DOUBLE) / 1000000)
                  * sqrt(CAST(gcum AS DOUBLE) / 1e12) * 1000000)
                  AS BIGINT) END AS se_micro,
           CASE WHEN ln_s_micro IS NOT NULL THEN
             greatest(CAST(0 AS BIGINT),
               CAST(round((exp(CAST(ln_s_micro AS DOUBLE) / 1000000)
                    - 1.96 * exp(CAST(ln_s_micro AS DOUBLE) / 1000000)
                      * sqrt(CAST(gcum AS DOUBLE) / 1e12)) * 1000000)
                    AS BIGINT)) END AS ci_lo_micro,
           CASE WHEN ln_s_micro IS NOT NULL THEN
             least(CAST(1000000 AS BIGINT),
               CAST(round((exp(CAST(ln_s_micro AS DOUBLE) / 1000000)
                    + 1.96 * exp(CAST(ln_s_micro AS DOUBLE) / 1000000)
                      * sqrt(CAST(gcum AS DOUBLE) / 1e12)) * 1000000)
                    AS BIGINT)) END AS ci_hi_micro
    FROM c
    """
)


@_q(
    "qc55_harmonic_centrality",
    """
    WITH RECURSIVE base AS (SELECT doc_id AS v FROM documents
                            WHERE doc_id < 256),
    mx AS (SELECT max(v) AS m FROM base),
    dir AS (
      SELECT v AS a, v + 1 AS b FROM base CROSS JOIN mx
      WHERE v + 1 <= m
      UNION ALL
      SELECT v AS a, v + 10 AS b FROM base CROSS JOIN mx
      WHERE v + 10 <= m),
    und AS (SELECT a, b FROM dir UNION SELECT b, a FROM dir),
    walk(seed, node, d) AS (
      SELECT seed, seed, 0 FROM (VALUES (0), (50), (100), (150))
        AS s(seed)
      UNION
      SELECT w.seed, u.b, w.d + 1
      FROM walk w JOIN und u ON w.node = u.a
      WHERE w.d < 8),
    dist AS (SELECT seed, node, CAST(min(d) AS BIGINT) AS d
             FROM walk GROUP BY 1, 2)
    SELECT node, CAST(count(*) AS BIGINT) AS n_seeds,
           CAST(sum(840 // d) AS BIGINT) AS h_scaled
    FROM dist WHERE d > 0 GROUP BY 1
    """,
)
def qc55(spark, sf):
    """Truncated harmonic closeness centrality from a 4-seed set over
    the deterministic +1/+10 doc graph, undirected (operators/
    graph.py:harmonic_centrality) — multi-source frontier BFS with
    per-round pinning (q96 discipline); reciprocals scaled by
    lcm(1..8)=840 so the score is an exact integer sum.  Oracle: one
    bounded WITH RECURSIVE walk, min-distance per (seed, node)."""
    from .operators.graph import harmonic_centrality

    d = _t(spark, sf, "documents").where(F.col("doc_id") < 256)
    mx = d.agg(F.max("doc_id")).first()[0]
    base = d.select("doc_id")
    e1 = base.where(F.col("doc_id") + 1 <= mx).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    e2 = base.where(F.col("doc_id") + 10 <= mx).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 10).alias("dst")
    )
    return harmonic_centrality(
        e1.unionByName(e2), seeds=[0, 50, 100, 150], max_depth=8
    )


# ---------------------------------------------------------------------------
# round-4 wave 63: distributional treatment effects + parametric survival
# ---------------------------------------------------------------------------


@_q(
    "qc56_quantile_treatment_effects",
    """
    WITH per AS (
      SELECT user_id,
             substr(md5('t|' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
               AS t,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2),
    hist AS (SELECT t, cents AS v, CAST(count(*) AS BIGINT) AS c
             FROM per GROUP BY 1, 2),
    cum AS (SELECT t, v,
                   CAST(sum(c) OVER (PARTITION BY t ORDER BY v
                                     ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cm
            FROM hist),
    tot AS (SELECT t, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    grid AS (
      SELECT cum.t, p.p_pct, min(v) AS q, max(tot.n) AS nn
      FROM cum JOIN tot USING (t)
      CROSS JOIN (VALUES (10), (25), (50), (75), (90)) AS p(p_pct)
      WHERE cm >= (p.p_pct * tot.n + 99) // 100
      GROUP BY 1, 2)
    SELECT CAST(p_pct AS BIGINT) AS p_pct,
           CAST(max(CASE WHEN t THEN nn END) AS BIGINT) AS n_t,
           CAST(max(CASE WHEN NOT t THEN nn END) AS BIGINT) AS n_c,
           CAST(max(CASE WHEN t THEN q END) AS BIGINT) AS q_t,
           CAST(max(CASE WHEN NOT t THEN q END) AS BIGINT) AS q_c,
           CAST(max(CASE WHEN t THEN q END)
                - max(CASE WHEN NOT t THEN q END) AS BIGINT) AS qte
    FROM grid GROUP BY 1
    """,
)
def qc56(spark, sf):
    """Quantile treatment effects at p10/25/50/75/90 of per-user spend
    under the qc08 md5 pseudo-assignment (operators/stats.py:
    quantile_treatment_effects) — the distributional A/B readout;
    exact type-1 quantiles from one (arm, value) histogram, rank =
    (p·n+99) div 100 pure integer, no rounding anywhere."""
    from .operators.stats import quantile_treatment_effects

    e = _t(spark, sf, "events")
    per = e.groupBy(
        "user_id",
        (
            F.substring(
                F.md5(F.concat(F.lit("t|"), F.col("user_id").cast("string"))),
                1,
                1,
            )
            < "8"
        ).alias("t"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    return quantile_treatment_effects(per, "t", "cents")


@_q(
    "qc57_weibull_fit",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s2 AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l
             FROM s2 GROUP BY 1, 2),
    gm AS (SELECT max(ts) AS g FROM events),
    subj AS (
      SELECT (epoch_us(l) - epoch_us(f)) // 1000000 AS d
      FROM sess CROSS JOIN gm
      WHERE epoch_us(g) - epoch_us(l) > 1800000000
        AND (epoch_us(l) - epoch_us(f)) // 1000000 >= 1),
    hist AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM subj
             GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    pts AS (
      SELECT c,
             CAST(round(ln(CAST(d AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(round(ln(-ln(1.0 - (CAST(sum(c) OVER (ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - 0.3)
                          / (tot.n + 0.4))) * 1000) AS BIGINT) AS y
      FROM hist CROSS JOIN tot),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_values,
                 CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(c * x) AS BIGINT) AS sx,
                 CAST(sum(c * y) AS BIGINT) AS sy,
                 CAST(sum(c * x * x) AS BIGINT) AS sxx,
                 CAST(sum(c * y * y) AS BIGINT) AS syy,
                 CAST(sum(c * x * y) AS BIGINT) AS sxy
          FROM pts),
    f AS (SELECT *,
                 CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS num,
                 CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS den,
                 CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS dny
          FROM s)
    SELECT n, n_values,
           CASE WHEN den <> 0 THEN
             CAST(round(num / den * 1000) AS BIGINT) END AS shape_milli,
           CASE WHEN den <> 0 AND num <> 0 THEN
             CAST(round(exp(-((sy / 1000.0 - num / den * (sx / 1000.0))
                             / n) / (num / den))) AS BIGINT)
           END AS scale_value,
           CASE WHEN den <> 0 AND dny <> 0 THEN
             CAST(round(num * num / den / dny * 1000) AS BIGINT)
           END AS r2_milli
    FROM f
    """,
)
def qc57(spark, sf):
    """Weibull shape/scale via median-rank regression over uncensored
    session lifetimes (operators/stats.py:weibull_median_rank) — the
    parametric survival fit next to the KM stack; Bernard median
    ranks from histogram cumulatives, milli-nat grid OLS (qb02
    trick), OLS combination cast double past int64 (qc43 pattern)."""
    from .operators.stats import weibull_median_rank

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_s"),
        "event_id",
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        flagged.select(
            "user_id", "ts", F.sum("new_s").over(run).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    )
    gm = e.agg(F.max("ts").alias("g"))
    um = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    subj = (
        sess.crossJoin(F.broadcast(gm))
        .where(um("g") - um("l") > 1_800_000_000)
        .select(
            ((um("l") - um("f")) / F.lit(1_000_000))
            .cast("long")
            .alias("d")
        )
        .where(F.col("d") >= 1)
    )
    return weibull_median_rank(subj, "d")


# ---------------------------------------------------------------------------
# round-4 wave 64: reliability + risk backtesting
# ---------------------------------------------------------------------------


@_q(
    "qc58_cronbach_alpha",
    """
    WITH cells AS (SELECT user_id AS u, event_type AS i,
                          CAST(count(*) AS BIGINT) AS x
                   FROM events GROUP BY 1, 2),
    nu AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM cells),
    it AS (SELECT i, CAST(sum(x * x) AS BIGINT) AS sxx,
                  CAST(sum(x) AS BIGINT) AS sx
           FROM cells GROUP BY 1),
    items AS (SELECT CAST(count(*) AS BIGINT) AS k_items,
                     CAST(sum(nu.n * sxx - sx * sx) AS BIGINT) AS a_sum
              FROM it CROSS JOIN nu),
    ut AS (SELECT u, CAST(sum(x) AS BIGINT) AS t FROM cells GROUP BY 1),
    units AS (SELECT CAST(sum(t) AS BIGINT) AS st,
                     CAST(sum(t * t) AS BIGINT) AS stt
              FROM ut),
    f AS (SELECT nu.n, k_items, a_sum,
                 nu.n * stt - st * st AS b
          FROM items CROSS JOIN units CROSS JOIN nu)
    SELECT n AS n_units, k_items, a_sum, CAST(b AS BIGINT) AS b_sum,
           CASE WHEN k_items >= 2 AND b <> 0 THEN
             CAST(round(CAST(k_items * (b - a_sum) AS DOUBLE) * 1000
                        / ((k_items - 1) * b)) AS BIGINT)
           END AS alpha_milli
    FROM f
    """,
)
def qc58(spark, sf):
    """Cronbach's alpha of the user × event-type activity matrix
    (operators/stats.py:cronbach_alpha) — internal-consistency gate
    before collapsing per-item signals into one index; population
    variances cross-multiply to a shared n² that cancels, absent
    cells are exact zeros, α is one terminal division of int64
    sums."""
    from .operators.stats import cronbach_alpha

    e = _t(spark, sf, "events").select(
        "user_id", "event_type", F.lit(1).alias("one")
    )
    return cronbach_alpha(e, "user_id", "event_type", "one")


@_q(
    "qc59_kupiec_pof",
    """
    WITH e AS (SELECT epoch_us(ts) AS us,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    ext AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
    base AS (SELECT (us * 2 < ext.lo + ext.hi) AS tr, v
             FROM e CROSS JOIN ext),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base
             WHERE tr GROUP BY 1),
    ntr AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    vr AS (SELECT CAST(min(v) AS BIGINT) AS var_v
           FROM (SELECT v, sum(c) OVER (ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cm
                 FROM hist) CROSS JOIN ntr
           WHERE cm >= (9900 * ntr.n + 9999) // 10000),
    te AS (SELECT CAST(count(*) AS BIGINT) AS nte,
                  CAST(sum(CASE WHEN v > vr.var_v THEN 1 ELSE 0 END)
                       AS BIGINT) AS x,
                  CAST(max(vr.var_v) AS BIGINT) AS var_v
           FROM base CROSS JOIN vr WHERE NOT tr),
    f AS (
      SELECT nte, x, var_v,
             (CASE WHEN x > 0 THEN
                x * (-4605170
                     - (CAST(round(ln(CAST(x AS DOUBLE)) * 1000000)
                             AS BIGINT)
                        - CAST(round(ln(CAST(nte AS DOUBLE)) * 1000000)
                               AS BIGINT)))
              ELSE 0 END
              + CASE WHEN nte - x > 0 THEN
                  (nte - x) * (-10050
                     - (CAST(round(ln(CAST(nte - x AS DOUBLE)) * 1000000)
                             AS BIGINT)
                        - CAST(round(ln(CAST(nte AS DOUBLE)) * 1000000)
                               AS BIGINT)))
                ELSE 0 END) AS sobs,
             CAST(nte AS DOUBLE) * 100 / 10000 AS ee
      FROM te)
    SELECT ntr.n AS n_train, nte AS n_test, var_v AS var_value,
           x AS x_exceed,
           CAST(round(nte * 100 / 10) AS BIGINT) AS expected_milli,
           CAST(round((-2 * sobs) / 1000) AS BIGINT) AS lr_milli,
           CAST(round((x - ee) / sqrt(ee * (10000 - 100) / 10000)
                * 1000) AS BIGINT) AS z_milli,
           CASE WHEN (x - ee) / sqrt(ee * (10000 - 100) / 10000) < 2.0
                THEN 'green'
                WHEN (x - ee) / sqrt(ee * (10000 - 100) / 10000) < 3.0
                THEN 'yellow' ELSE 'red' END AS zone
    FROM f CROSS JOIN ntr
    """,
)
def qc59(spark, sf):
    """Kupiec proportion-of-failures backtest of the 99% empirical
    VaR, trained on the first time-half and tested on the second
    (operators/stats.py:kupiec_pof) — the risk-monitoring loop with a
    Basel-style traffic light; LR from ln of integers plus injected
    ln(q)/ln(1−q) micro constants (qa89 rule), exact until one
    terminal /1000."""
    from .operators.stats import kupiec_pof

    e = _t(spark, sf, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ext = e.agg(F.min("_us").alias("_lo"), F.max("_us").alias("_hi"))
    base = e.crossJoin(F.broadcast(ext)).select(
        (F.col("_us") * 2 < F.col("_lo") + F.col("_hi")).alias("tr"),
        "cents",
    )
    return kupiec_pof(base, "tr", "cents", coverage_bp=9900)


# ---------------------------------------------------------------------------
# round-4 wave 65: queueing reconciliation + exact small-sample tests
# ---------------------------------------------------------------------------


@_q(
    "qc60_littles_law",
    """
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT u, us,
             CASE WHEN lag(us) OVER (PARTITION BY u ORDER BY us) IS NULL
                   OR us - lag(us) OVER (PARTITION BY u ORDER BY us)
                      > 1800000000
                  THEN 1 ELSE 0 END AS nw
      FROM base),
    sess AS (SELECT u, us,
                    sum(nw) OVER (PARTITION BY u ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sid
             FROM flagged),
    bounds AS (SELECT u, sid, min(us) AS s, max(us) AS e
               FROM sess GROUP BY 1, 2),
    totals AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                      CAST(sum(e - s + 1) AS BIGINT) AS sum_dur_us,
                      CAST(max(e) + 1 - min(s) AS BIGINT) AS span_us
               FROM bounds),
    days AS (SELECT u, sid, s, e,
                    unnest(generate_series(s // 86400000000,
                                           e // 86400000000)) AS day
             FROM bounds),
    clamped AS (SELECT u, sid, day,
                       greatest(s, day * 86400000000) AS cs,
                       least(e, (day + 1) * 86400000000 - 1) + 1 AS ce
                FROM days),
    marks AS (
      SELECT day, cs AS t, 1 AS delta, u, sid FROM clamped
      UNION ALL
      SELECT day, ce, -1, u, sid FROM clamped),
    swept AS (
      SELECT day, t,
             sum(delta) OVER (PARTITION BY day
                              ORDER BY t, delta DESC, u, sid
                              ROWS UNBOUNDED PRECEDING) AS cum,
             lead(t) OVER (PARTITION BY day
                           ORDER BY t, delta DESC, u, sid) AS nt
      FROM marks),
    integ AS (SELECT CAST(sum(CASE WHEN nt IS NOT NULL
                                   THEN cum * (nt - t) ELSE 0 END)
                          AS BIGINT) AS sweep_integral_us
              FROM swept)
    SELECT n_sessions, sum_dur_us, sweep_integral_us,
           CAST(sweep_integral_us - sum_dur_us AS BIGINT) AS identity_diff,
           span_us,
           CAST(round(CAST(sweep_integral_us AS DOUBLE) * 1000000
                      / span_us) AS BIGINT) AS l_timeavg_micro,
           CAST(round(CAST(n_sessions AS DOUBLE) * 3600000000 * 1000
                      / span_us) AS BIGINT) AS lambda_per_hour_milli,
           CAST(round(CAST(sum_dur_us AS DOUBLE) / n_sessions)
                AS BIGINT) AS w_mean_us
    FROM totals CROSS JOIN integ
    """,
)
def qc60(spark, sf):
    """Little's law L = lambda*W reconciliation over 30-min-gap user
    sessions (operators/temporal.py:littles_law_audit) — the queueing
    sanity gate: the midnight-clipped +1/-1 day-partition sweep
    integral must equal the summed session durations EXACTLY
    (identity_diff = 0 is an int64 witness, not a tolerance)."""
    from .operators.temporal import littles_law_audit

    return littles_law_audit(_t(spark, sf, "events"))


def _qc61_oracle() -> str:
    from .operators.stats import fisher_weights

    wt_rows = ", ".join(
        f"({k}, CAST({w} AS BIGINT))"
        for k, w in enumerate(fisher_weights(10))
    )
    return f"""
    WITH base AS (SELECT event_type AS g, epoch_us(ts) AS us, event_id AS id,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    ranked AS (SELECT g, v,
                      row_number() OVER (PARTITION BY g ORDER BY us, id)
                        AS rn
               FROM base),
    samp AS (SELECT g, v, rn FROM ranked WHERE rn <= 20),
    vr AS (SELECT g, rn,
                  row_number() OVER (PARTITION BY g ORDER BY v DESC, rn)
                    AS vrank
           FROM samp),
    ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sample,
                  CAST(sum(CASE WHEN rn <= 10 AND vrank <= 10
                                THEN 1 ELSE 0 END) AS BIGINT) AS a
           FROM vr GROUP BY 1 HAVING count(*) = 20),
    wt(k, w) AS (VALUES {wt_rows}),
    j AS (SELECT ag.g, ag.n_sample, ag.a, wo.w AS w_obs
          FROM ag JOIN wt wo ON wo.k = ag.a),
    p AS (SELECT j.g, j.n_sample, j.a, j.w_obs,
                 CAST(sum(CASE WHEN wt.w <= j.w_obs THEN wt.w ELSE 0 END)
                      AS BIGINT) AS p_num
          FROM j CROSS JOIN wt GROUP BY 1, 2, 3, 4),
    tot AS (SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n_total
            FROM events GROUP BY 1)
    SELECT p.g AS event_type, tot.n_total, p.n_sample,
           p.a AS a_high_first, p.w_obs, p.p_num,
           CAST(round(p.p_num * 1000000 / 184756) AS BIGINT) AS p_micro,
           CAST(round(p.p_num * 1000000 / 184756) AS BIGINT) < 50000
             AS significant
    FROM p JOIN tot ON tot.g = p.g
    """


@_q("qc61_fisher_exact", None)
def qc61(spark, sf):
    """Per-event-type Fisher exact median test on the earliest-20
    audit sample (operators/stats.py:fisher_median_test) — exact
    small-sample drift gate with both 2x2 margins pinned to 10 by
    construction; pmf weights C(10,k)^2 injected into both engines
    (qa89 rule), two-sided tail summed by integer weight comparison,
    one terminal division."""
    from .operators.stats import fisher_median_test

    e = _t(spark, sf, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return fisher_median_test(
        e, "event_type", "cents", ["_us", "event_id"], m=10
    )


ORACLES["qc61_fisher_exact"] = _qc61_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 66: Kneser-Ney LM + scorecard information value
# ---------------------------------------------------------------------------


@_q(
    "qc62_kneser_ney",
    r"""
    WITH toks AS (
      SELECT doc_id, w, idx
      FROM (SELECT doc_id,
                   unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w,
                   generate_subscripts(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' '),1) AS idx
            FROM documents)
      WHERE length(w) > 0),
    bg0 AS (
      SELECT doc_id, w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
      FROM toks),
    bg AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
    c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
            FROM bg GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_ctx,
                   CAST(count(*) AS BIGINT) AS n1
            FROM c12 GROUP BY 1),
    nc AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont
           FROM c12 GROUP BY 1),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c12),
    nll AS (
      SELECT c12.w1, c12.w2,
             CAST(round(ln(CAST(4 * ctx.c_ctx * tt.t AS DOUBLE)) * 1e6)
                  AS BIGINT)
             - CAST(round(ln(CAST((4 * c12.c_bg - 3) * tt.t
                                  + 3 * ctx.n1 * nc.ncont AS DOUBLE)) * 1e6)
                    AS BIGINT) AS nll_micro
      FROM c12 JOIN ctx USING (w1) JOIN nc ON nc.w2 = c12.w2 CROSS JOIN tt)
    SELECT bg.doc_id, count(*) AS n_bigrams,
           CAST(sum(nll.nll_micro) AS BIGINT) AS kn_nll_micro_sum,
           CAST(floor(sum(nll.nll_micro) / count(*)) AS BIGINT)
             AS kn_avg_micro
    FROM bg JOIN nll ON bg.w1 = nll.w1 AND bg.w2 = nll.w2
    GROUP BY 1
    """,
)
def qc62(spark, sf):
    """Interpolated Kneser-Ney bigram NLL per document
    (operators/textstats.py:kneser_ney_nll) — D = 3/4 keeps every
    probability a ratio of int64s over a common denominator, so the
    per-distinct-bigram nll is ln_micro(den) − ln_micro(num) of
    integers and doc sums are pure int64 (q66 discipline, better
    smoothing)."""
    from .operators.textstats import kneser_ney_nll

    return kneser_ney_nll(_t(spark, sf, "documents"))


@_q(
    "qc63_woe_iv",
    """
    WITH e AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cut AS (SELECT CAST(min(v) AS BIGINT) AS cut FROM
            (SELECT v, sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist)
            CROSS JOIN nt WHERE cm >= (9000 * n + 9999) // 10000),
    cells AS (SELECT hour AS bin, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN v > cut.cut THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_good
              FROM e CROSS JOIN cut GROUP BY 1),
    c2 AS (SELECT bin, n, n_good, n - n_good AS n_bad FROM cells),
    tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g,
                   CAST(sum(n_bad) AS BIGINT) AS bd FROM c2),
    sc AS (SELECT bin, n, n_good, n_bad,
                  CASE WHEN n_good > 0 AND n_bad > 0 THEN
                    (CAST(round(ln(CAST(n_good AS DOUBLE)) * 1e6) AS BIGINT)
                     - CAST(round(ln(CAST(g AS DOUBLE)) * 1e6) AS BIGINT))
                    - (CAST(round(ln(CAST(n_bad AS DOUBLE)) * 1e6) AS BIGINT)
                     - CAST(round(ln(CAST(bd AS DOUBLE)) * 1e6) AS BIGINT))
                  END AS woe_micro,
                  CASE WHEN n_good > 0 AND n_bad > 0 THEN
                    CAST(round((CAST(n_good AS DOUBLE) * bd
                                - CAST(n_bad AS DOUBLE) * g) * 1000000
                               / (CAST(g AS DOUBLE) * bd)) AS BIGINT)
                  END AS rd
           FROM c2 CROSS JOIN tot),
    sc2 AS (SELECT bin, n, n_good, n_bad, woe_micro,
                   CAST(round(rd * woe_micro / 1000) AS BIGINT)
                     AS iv_contrib_nano
            FROM sc),
    ivt AS (SELECT CAST(sum(iv_contrib_nano) AS BIGINT) AS iv_total_nano
            FROM sc2)
    SELECT bin AS hour, n, n_good, n_bad, woe_micro, iv_contrib_nano,
           ivt.iv_total_nano
    FROM sc2 CROSS JOIN ivt
    """,
)
def qc63(spark, sf):
    """Weight-of-evidence / information value of hour-of-day for
    predicting top-decile event value (operators/stats.py:woe_iv) —
    the scorecard feature audit; the p90 cut is an exact type-1
    histogram rank, WoE is four ln_micro of integers, IV contributions
    are micro x micro integer products with one /1000 round."""
    from .operators.stats import woe_iv

    e = _t(spark, sf, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    hist = e.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist.select("_v", F.sum("_c").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("_cm") >= F.expr("(9000 * _n + 9999) div 10000"))
        .agg(F.min("_v").alias("_cut"))
    )
    binned = e.crossJoin(F.broadcast(cut)).select(
        F.expr("(_us div 3600000000) % 24").alias("hour"),
        (F.col("_v") > F.col("_cut")).alias("_hi"),
    )
    return woe_iv(binned, "hour", "_hi")


# ---------------------------------------------------------------------------
# round-4 wave 67: regression discontinuity + seasonality periodogram
# ---------------------------------------------------------------------------


@_q(
    "qc64_regression_discontinuity",
    """
    WITH pu AS (SELECT user_id,
                       CAST(count(*) AS BIGINT) AS x,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS y
                FROM events GROUP BY 1),
    hist AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM pu GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cut AS (SELECT CAST(min(x) AS BIGINT) AS cut FROM
            (SELECT x, sum(c) OVER (ORDER BY x
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist)
            CROSS JOIN nt WHERE cm >= (5000 * n + 9999) // 10000),
    sides AS (SELECT (x >= cut) AS r, x - cut AS d, y, cut
              FROM pu CROSS JOIN cut
              WHERE x - cut BETWEEN -10 AND 10),
    ag AS (SELECT r, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(d) AS BIGINT) AS sd,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(d * y) AS BIGINT) AS sdy,
                  CAST(sum(d * d) AS BIGINT) AS sdd,
                  CAST(max(cut) AS BIGINT) AS c
           FROM sides GROUP BY 1),
    per AS (SELECT r, n, c,
                   CASE WHEN n * sdd - sd * sd <> 0 THEN
                     CAST(round((CAST(sy AS DOUBLE) * sdd
                                 - CAST(sd AS DOUBLE) * sdy) * 1000000
                                / (n * sdd - sd * sd)) AS BIGINT)
                   END AS i_m,
                   CASE WHEN n * sdd - sd * sd <> 0 THEN
                     CAST(round((CAST(n AS DOUBLE) * sdy
                                 - CAST(sd AS DOUBLE) * sy) * 1000000
                                / (n * sdd - sd * sd)) AS BIGINT)
                   END AS s_m
            FROM ag)
    SELECT l.c AS cutoff, CAST(10 AS BIGINT) AS h,
           l.n AS n_left, rr.n AS n_right,
           l.i_m AS int_left_micro, rr.i_m AS int_right_micro,
           l.s_m AS slope_left_micro, rr.s_m AS slope_right_micro,
           CAST(rr.i_m - l.i_m AS BIGINT) AS rdd_jump_micro
    FROM (SELECT * FROM per WHERE NOT r) l
    CROSS JOIN (SELECT * FROM per WHERE r) rr
    """,
)
def qc64(spark, sf):
    """Sharp RDD jump in per-user total spend at the median-activity
    cutoff (operators/stats.py:regression_discontinuity) — local
    linear both sides at bandwidth 10; five int64 OLS sums per side,
    intercepts/slopes as single micro-rounded divisions of integer
    cross-products, cutoff an exact type-1 histogram median."""
    from .operators.stats import regression_discontinuity

    pu = (
        _t(spark, sf, "events")
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("_cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("_x"),
            F.sum("_cents").cast("long").alias("_y"),
        )
    )
    hist = pu.groupBy("_x").agg(F.count("*").cast("long").alias("_c"))
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist.select("_x", F.sum("_c").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("_cm") >= F.expr("(5000 * _n + 9999) div 10000"))
        .agg(F.min("_x").alias("_cut"))
    )
    return regression_discontinuity(
        pu.crossJoin(F.broadcast(cut)), "_x", "_y", "_cut", bandwidth=10
    )


def _qc65_oracle() -> str:
    from .operators.temporal import trig_micro_tables

    rows = ", ".join(
        f"({p}, {r}, CAST({c} AS BIGINT), CAST({s} AS BIGINT))"
        for p, r, c, s in trig_micro_tables((3, 5, 7, 14))
    )
    return f"""
    WITH trig(p, r, cm, sm) AS (VALUES {rows}),
    days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                    CAST(count(*) AS BIGINT) AS x
             FROM events GROUP BY 1),
    mn AS (SELECT min(day) AS m FROM days),
    ser AS (SELECT day - mn.m AS t, x FROM days CROSS JOIN mn),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s FROM ser),
    z AS (SELECT t, n * x - s AS z, n FROM ser CROSS JOIN tot),
    zp AS (SELECT trig.p, z.z, z.n, trig.cm, trig.sm
           FROM z JOIN trig ON trig.r = z.t % trig.p),
    ag AS (SELECT p, CAST(sum(z * cm) AS BIGINT) AS c_sum,
                  CAST(sum(z * sm) AS BIGINT) AS s_sum,
                  CAST(max(n) AS BIGINT) AS n
           FROM zp GROUP BY 1),
    sc AS (SELECT CAST(p AS BIGINT) AS p, c_sum, s_sum,
                  CAST(round(sqrt(CAST(c_sum AS DOUBLE) * c_sum
                                  + CAST(s_sum AS DOUBLE) * s_sum) * 2000
                             / (CAST(n AS DOUBLE) * n * 1000000))
                       AS BIGINT) AS amp_milli
           FROM ag),
    mx AS (SELECT max(amp_milli) AS mx FROM sc)
    SELECT p, c_sum, s_sum, amp_milli, amp_milli = mx.mx AS is_peak
    FROM sc CROSS JOIN mx
    """


@_q("qc65_periodogram", None)
def qc65(spark, sf):
    """Daily-volume periodogram at candidate periods 3/5/7/14 days
    (operators/temporal.py:periodogram) — seasonality detection with
    injected integer cos/sin micro tables (qa89 rule: no engine runs
    a trig function); mean removal stays integer via z = n*x − S,
    amplitudes descale in mirrored double order, IEEE sqrt."""
    from .operators.temporal import periodogram

    days = (
        _t(spark, sf, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("_day")
        )
        .groupBy("_day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    mn = days.agg(F.min("_day").alias("_m"))
    series = days.crossJoin(F.broadcast(mn)).select(
        (F.col("_day") - F.col("_m")).alias("t"), "x"
    )
    return periodogram(series, "t", "x", (3, 5, 7, 14))


ORACLES["qc65_periodogram"] = _qc65_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 68: PCA power iteration + stronger l-diversity
# ---------------------------------------------------------------------------


def _qc66_oracle(rounds: int = 6) -> str:
    head = """
    WITH ex AS (
      SELECT id, j, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xm
      FROM (SELECT vec_id AS id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS j
            FROM embeddings)),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex WHERE j = 1),
    sums AS (SELECT j, CAST(sum(xm) AS BIGINT) AS sj FROM ex GROUP BY 1),
    prods AS (SELECT a.j AS j, b.j AS k,
                     sum(CAST(a.xm AS HUGEINT) * b.xm) AS sjk
              FROM ex a JOIN ex b ON a.id = b.id GROUP BY 1, 2),
    cells AS (SELECT p.j, p.k,
                     CAST(round(CAST(nt.n * p.sjk
                                     - CAST(sa.sj AS HUGEINT) * sb.sj
                                     AS DOUBLE)
                                / (CAST(nt.n AS DOUBLE) * nt.n * 1000))
                          AS BIGINT) AS cell
              FROM prods p JOIN sums sa ON sa.j = p.j
                   JOIN sums sb ON sb.j = p.k CROSS JOIN nt),
    v0 AS (SELECT DISTINCT j,
                  CASE WHEN j = 1 THEN CAST(1000000 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS vm
           FROM ex),"""
    body = ""
    for r in range(1, rounds + 1):
        body += f"""
    w{r} AS (SELECT c.j, CAST(sum(c.cell * v.vm) AS BIGINT) AS w
             FROM cells c JOIN v{r - 1} v ON v.j = c.k GROUP BY 1),
    n{r} AS (SELECT sqrt(CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE))
               AS nrm FROM w{r}),
    v{r} AS (SELECT j, CAST(round(CAST(w AS DOUBLE) * 1000000 / nrm)
                            AS BIGINT) AS vm
             FROM w{r} CROSS JOIN n{r}),"""
    tail = f"""
    wf AS (SELECT c.j, CAST(sum(c.cell * v.vm) AS BIGINT) AS w
           FROM cells c JOIN v{rounds} v ON v.j = c.k GROUP BY 1),
    ray AS (SELECT CAST(round(CAST(sum(CAST(v.vm AS HUGEINT) * wf.w)
                                   AS DOUBLE)
                              / CAST(sum(v.vm * v.vm) AS DOUBLE))
                        AS BIGINT) AS lambda_nano
            FROM v{rounds} v JOIN wf ON wf.j = v.j),
    tr AS (SELECT CAST(sum(cell) AS BIGINT) AS trace_nano
           FROM cells WHERE j = k),
    summ AS (SELECT lambda_nano, trace_nano,
                    CAST(round(CAST(lambda_nano AS DOUBLE) * 1000000
                               / trace_nano) AS BIGINT) AS evr_micro
             FROM ray CROSS JOIN tr)
    SELECT CAST(v.j AS BIGINT) AS j, v.vm AS v_micro, s.lambda_nano,
           s.trace_nano, s.evr_micro
    FROM v{rounds} v CROSS JOIN summ s
    """
    return head + body + tail


@_q("qc66_pca_power", None)
def qc66(spark, sf):
    """Top principal component of the embedding corpus via 6 unrolled
    power-iteration rounds on integer nano covariance cells
    (operators/similarity.py:pca_power_iteration) — v stays in int64
    micro units every round, norms are IEEE sqrt of decimal38 sums,
    Rayleigh lambda + explained-variance ratio at the end."""
    from .operators.similarity import pca_power_iteration

    return pca_power_iteration(
        _t(spark, sf, "embeddings"), "embedding", "vec_id", rounds=6
    )


ORACLES["qc66_pca_power"] = _qc66_oracle(6)


@_q(
    "qc67_l_diversity",
    """
    WITH cells AS (SELECT source,
                          CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
                          lang, CAST(count(*) AS BIGINT) AS c
                   FROM documents GROUP BY 1, 2, 3),
    per AS (SELECT source, bucket, CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS l_distinct,
                   CAST(max(c) AS BIGINT) AS top_count,
                   CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6)
                                     AS BIGINT)) AS BIGINT) AS slc
            FROM cells GROUP BY 1, 2)
    SELECT source, bucket, n, l_distinct, top_count,
           CAST(round((n * CAST(round(ln(CAST(n AS DOUBLE)) * 1e6)
                               AS BIGINT) - slc) / n) AS BIGINT)
             AS entropy_micro,
           CAST(round((n * CAST(round(ln(CAST(n AS DOUBLE)) * 1e6)
                               AS BIGINT) - slc) / n) AS BIGINT) >= 693147
             AS entropy_l2_ok,
           top_count < 2 * (n - top_count) AS recursive_c2_ok
    FROM per
    """,
)
def qc67(spark, sf):
    """Entropy and recursive (c,2)-diversity per (source, size-bucket)
    equivalence class with lang as the sensitive attribute
    (operators/privacy.py:l_diversity_report) — the stronger
    Machanavajjhala variants beyond qa62's distinct-l; entropy is the
    q66 integer idiom against an injected ln2 threshold."""
    from .operators.privacy import l_diversity_report

    d = _t(spark, sf, "documents").select(
        "source",
        F.floor(F.col("n_chars") / 100).cast("long").alias("bucket"),
        "lang",
    )
    return l_diversity_report(d, ["source", "bucket"], "lang")


# ---------------------------------------------------------------------------
# round-4 wave 69: structural break + influence diagnostics
# ---------------------------------------------------------------------------


@_q(
    "qc68_chow_test",
    """
    WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         CAST(sum(CAST(round(value * 100) AS BIGINT))
                              AS BIGINT) AS y
                  FROM events GROUP BY 1),
    mn AS (SELECT min(day) AS m FROM days),
    ser AS (SELECT day - mn.m AS t, y FROM days CROSS JOIN mn),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM ser),
    seg AS (SELECT CASE WHEN t < nd // 2 THEN 1 ELSE 2 END AS s, t, y,
                   nd // 2 AS split
            FROM ser CROSS JOIN nt),
    per AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t) AS BIGINT) AS st,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(t AS HUGEINT) * y) AS sty,
                   CAST(sum(t * t) AS BIGINT) AS stt,
                   sum(CAST(y AS HUGEINT) * y) AS syy,
                   CAST(max(split) AS BIGINT) AS split
            FROM seg GROUP BY 1),
    segr AS (SELECT s, n, split, st, sy, sty, stt, syy,
                    CASE WHEN n * stt - st * st <> 0 THEN
                      CAST(round((CAST(n * syy - sy * sy AS DOUBLE)
                                  - CAST(n * sty - st * sy AS DOUBLE)
                                    * CAST(n * sty - st * sy AS DOUBLE)
                                    / (n * stt - st * st)) / n) AS BIGINT)
                    END AS ssr
             FROM per),
    pool AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                    CAST(sum(st) AS BIGINT) AS st,
                    sum(sy) AS sy, sum(sty) AS sty,
                    CAST(sum(stt) AS BIGINT) AS stt, sum(syy) AS syy
             FROM segr),
    poolr AS (SELECT n AS n_days,
                     CASE WHEN n * stt - st * st <> 0 THEN
                       CAST(round((CAST(n * syy - sy * sy AS DOUBLE)
                                   - CAST(n * sty - st * sy AS DOUBLE)
                                     * CAST(n * sty - st * sy AS DOUBLE)
                                     / (n * stt - st * st)) / n) AS BIGINT)
                     END AS ssr_pooled
              FROM pool),
    f AS (SELECT p.n_days, s1.split AS split_t, s1.n AS n1, s2.n AS n2,
                 p.ssr_pooled, s1.ssr AS ssr_1, s2.ssr AS ssr_2,
                 CASE WHEN s1.ssr + s2.ssr > 0 AND p.n_days > 4 THEN
                   CAST(round(CAST(p.ssr_pooled - s1.ssr - s2.ssr
                                   AS DOUBLE) * (p.n_days - 4) * 500
                              / (s1.ssr + s2.ssr)) AS BIGINT)
                 END AS chow_f_milli
          FROM poolr p
          CROSS JOIN (SELECT * FROM segr WHERE s = 1) s1
          CROSS JOIN (SELECT * FROM segr WHERE s = 2) s2)
    SELECT n_days, split_t, n1, n2, ssr_pooled, ssr_1, ssr_2,
           chow_f_milli, chow_f_milli > 3000 AS break_detected
    FROM f
    """,
)
def qc68(spark, sf):
    """Chow structural-break F-test at the midpoint of the daily
    spend series (operators/stats.py:chow_test) — segment SSRs from
    the centered identity (A − B²/C)/n with decimal38 y-sums, pooled
    sums as the exact integer sum of the two segment rows, verdict
    against the injected 3.000 critical milli constant."""
    from .operators.stats import chow_test

    days = (
        _t(spark, sf, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("_day"),
            F.round(F.col("value") * 100).cast("long").alias("_cents"),
        )
        .groupBy("_day")
        .agg(F.sum("_cents").cast("long").alias("y"))
    )
    mn = days.agg(F.min("_day").alias("_m"))
    series = days.crossJoin(F.broadcast(mn)).select(
        (F.col("_day") - F.col("_m")).alias("t"), "y"
    )
    return chow_test(series, "t", "y")


@_q(
    "qc69_cooks_distance",
    """
    WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS total_cents
                FROM events GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(n_events) AS BIGINT) AS sx,
                   sum(CAST(total_cents AS HUGEINT)) AS sy,
                   sum(CAST(n_events AS HUGEINT) * total_cents) AS sxy,
                   CAST(sum(n_events * n_events) AS BIGINT) AS sxx,
                   sum(CAST(total_cents AS HUGEINT) * total_cents) AS syy
            FROM pu),
    coef AS (SELECT n, sx, n * sxx - sx * sx AS c,
                    CASE WHEN n * sxx - sx * sx <> 0 THEN
                      CAST(round((CAST(sy AS DOUBLE) * sxx
                                  - CAST(sx AS DOUBLE)
                                    * CAST(sxy AS DOUBLE)) * 1000000
                                 / (n * sxx - sx * sx)) AS BIGINT)
                    END AS a_micro,
                    CASE WHEN n * sxx - sx * sx <> 0 THEN
                      CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                  - CAST(sx AS DOUBLE)
                                    * CAST(sy AS DOUBLE)) * 1000000
                                 / (n * sxx - sx * sx)) AS BIGINT)
                    END AS b_micro,
                    CASE WHEN n * sxx - sx * sx <> 0 THEN
                      CAST(round((CAST(n * syy - sy * sy AS DOUBLE)
                                  - CAST(n * sxy - sx * sy AS DOUBLE)
                                    * CAST(n * sxy - sx * sy AS DOUBLE)
                                    / (n * sxx - sx * sx)) / n) AS BIGINT)
                    END AS ssr
             FROM tot),
    j AS (SELECT pu.user_id, pu.n_events AS x, pu.total_cents AS y,
                 c.n, c.sx, c.c, c.a_micro, c.b_micro, c.ssr
          FROM pu CROSS JOIN coef c
          WHERE c.c <> 0 AND c.ssr > 0 AND c.n > 2),
    st AS (SELECT user_id, x, y, n, ssr,
                  y * 1000 - CAST(round((a_micro + b_micro * x) / 1000)
                                  AS BIGINT) AS e_milli,
                  CAST(round(CAST(1000000 AS DOUBLE) / n
                             + CAST((n * x - sx) * (n * x - sx) AS DOUBLE)
                               * 1000000 / (CAST(n AS DOUBLE) * c))
                       AS BIGINT) AS h_micro
           FROM j),
    st2 AS (SELECT *, 1.0 - CAST(h_micro AS DOUBLE) / 1000000 AS om
            FROM st)
    SELECT user_id, x AS n_events, y AS total_cents, e_milli, h_micro,
           CAST(round(CAST(e_milli AS DOUBLE) * e_milli * h_micro * 1000
                      / (CAST(ssr AS DOUBLE) / (n - 2) * 2 * om * om
                         * 1000000000000)) AS BIGINT) AS d_milli
    FROM st2 ORDER BY d_milli DESC, user_id LIMIT 10
    """,
)
def qc69(spark, sf):
    """Top-10 most influential users by Cook's distance on the
    per-user spend~activity regression
    (operators/stats.py:cooks_distance_topk) — refit-free influence
    audit; micro coefficients, milli residuals, micro leverage from
    exact integer (n·x−Σx)², one mirrored double chain per row,
    TakeOrdered top-k."""
    from .operators.stats import cooks_distance_topk

    pu = (
        _t(spark, sf, "events")
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("_cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("_cents").cast("long").alias("total_cents"),
        )
    )
    return cooks_distance_topk(pu, "user_id", "n_events", "total_cents", 10)


# ---------------------------------------------------------------------------
# round-4 wave 70: FD audit + uncertainty coefficient (profiler family)
# ---------------------------------------------------------------------------

_QC70_PAIRS = [
    ("event_id", "user_id"),
    ("user_id", "event_type"),
    ("event_type", "user_id"),
]


def _qc70_oracle() -> str:
    blocks, sels = [], []
    for i, (a, b) in enumerate(_QC70_PAIRS, 1):
        blocks.append(f"""
    c{i} AS (SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS c
             FROM events GROUP BY 1, 2),
    p{i} AS (SELECT CAST(sum(na) AS BIGINT) AS n_rows,
                    CAST(count(*) AS BIGINT) AS n_lhs,
                    CAST(sum(nb) AS BIGINT) AS n_pairs,
                    CAST(sum(na - mx) AS BIGINT) AS g3
             FROM (SELECT a, sum(c) AS na, max(c) AS mx,
                          count(*) AS nb
                   FROM c{i} GROUP BY 1))""")
        sels.append(f"""
    SELECT '{a}' AS lhs, '{b}' AS rhs, n_rows, n_lhs, n_pairs,
           n_pairs = n_lhs AS fd_holds, g3 AS g3_violations,
           CAST(round(g3 * 1000000 / n_rows) AS BIGINT) AS g3_micro
    FROM p{i}""")
    return "WITH" + ",".join(blocks) + "\n    UNION ALL".join(sels)


@_q("qc70_fd_audit", None)
def qc70(spark, sf):
    """Approximate functional-dependency audit (g3 measure) for three
    column pairs of the events table (operators/dq.py:fd_audit) —
    event_id→user_id holds exactly (key), the user/type pairs report
    their integer g3 deletion counts and micro error rates."""
    from .operators.dq import fd_audit

    return fd_audit(_t(spark, sf, "events"), _QC70_PAIRS)


ORACLES["qc70_fd_audit"] = _qc70_oracle()

_QC71_PAIRS = [("user_id", "event_type"), ("event_type", "user_id")]


def _qc71_oracle() -> str:
    lnm = lambda x: (
        f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e6) AS BIGINT)"
    )
    blocks, sels = [], []
    for i, (a, b) in enumerate(_QC71_PAIRS, 1):
        blocks.append(f"""
    c{i} AS (SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS c
             FROM events GROUP BY 1, 2),
    bm{i} AS (SELECT CAST(sum(cb) AS BIGINT) AS n,
                     CAST(sum(cb * {lnm('cb')}) AS BIGINT) AS sbl
              FROM (SELECT b, CAST(sum(c) AS BIGINT) AS cb
                    FROM c{i} GROUP BY 1)),
    hb{i} AS (SELECT n, CAST(round((n * {lnm('n')} - sbl) / n) AS BIGINT)
                AS h_b FROM bm{i}),
    am{i} AS (SELECT a, CAST(sum(c) AS BIGINT) AS na
              FROM c{i} GROUP BY 1),
    cd{i} AS (SELECT CAST(round(CAST(sum(c * ({lnm('na')} - {lnm('c')}))
                                     AS BIGINT)
                               / CAST(sum(c) AS BIGINT)) AS BIGINT) AS h_ba
              FROM c{i} JOIN am{i} USING (a))""")
        sels.append(f"""
    SELECT '{a}' AS lhs, '{b}' AS rhs, n AS n_rows, h_b AS h_b_micro,
           h_ba AS h_b_given_a_micro,
           CASE WHEN h_b > 0 THEN
             CAST(round(CAST(h_b - h_ba AS DOUBLE) * 1000000 / h_b)
                  AS BIGINT) END AS u_micro
    FROM hb{i} CROSS JOIN cd{i}""")
    return "WITH" + ",".join(blocks) + "\n    UNION ALL".join(sels)


@_q("qc71_uncertainty_coeff", None)
def qc71(spark, sf):
    """Theil's uncertainty coefficient U(B|A) for both directions of
    the user/event-type pair (operators/dq.py:uncertainty_coefficient)
    — information-theoretic dependence strength over one (A,B) cell
    table; entropies via the q66 integer idiom, one rounded division
    each, terminal micro ratio."""
    from .operators.dq import uncertainty_coefficient

    return uncertainty_coefficient(_t(spark, sf, "events"), _QC71_PAIRS)


ORACLES["qc71_uncertainty_coeff"] = _qc71_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 71: phonetic blocking + competing-risks incidence
# ---------------------------------------------------------------------------


@_q(
    "qc72_phonetic_blocking",
    """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    sx AS (SELECT name,
                  upper(regexp_replace(name, '[^A-Za-z]', '', 'g')) AS u
           FROM names),
    d0 AS (SELECT name, u,
                  translate(u, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            '01230120022455012623010202') AS dg
           FROM sx),
    d1 AS (SELECT name, u,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(regexp_replace(
                      regexp_replace(dg, '0+', '0', 'g'),
                      '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
                    '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g') AS dg
           FROM d0),
    codes AS (SELECT name,
                     CASE WHEN length(u) > 0 THEN
                       substring(u, 1, 1)
                       || rpad(substring(regexp_replace(substr(dg, 2),
                                                        '0', '', 'g'),
                                         1, 3), 3, '0')
                     END AS code
              FROM d1)
    SELECT a.name AS name_a, b.name AS name_b, a.code AS code,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
    FROM codes a JOIN codes b ON a.code = b.code AND a.name < b.name
    WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
    """,
)
def qc72(spark, sf):
    """Phonetic-blocked fuzzy-match candidates over part names
    (operators/linkage.py:phonetic_blocking_pairs) — simplified
    soundex built from engine-portable primitives (translate +
    per-digit run collapses; DuckDB's RE2 has no backreferences, so
    '(.)\\\\1+' is unusable), equi-join within blocks, levenshtein
    1..3 — the phonetic complement to qa27's last-token blocking."""
    from .operators.linkage import phonetic_blocking_pairs

    return phonetic_blocking_pairs(_t(spark, sf, "part"), "p_name", 3)


@_q(
    "qc73_aalen_johansen",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s, event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s2 AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (SELECT user_id, sid, min(ts) AS f, max(ts) AS l,
                    CAST(count(*) AS BIGINT) AS ne
             FROM s2 GROUP BY 1, 2),
    gm AS (SELECT max(ts) AS g FROM events),
    subj AS (SELECT epoch_us(l) - epoch_us(f) AS t,
                    CASE WHEN epoch_us(g) - epoch_us(l) <= 1800000000
                         THEN 0
                         WHEN ne >= 2 THEN 1 ELSE 2 END AS k
             FROM sess CROSS JOIN gm),
    per_t AS (SELECT t, CAST(count(*) AS BIGINT) AS a,
                     CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS d1,
                     CAST(sum(CASE WHEN k = 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS d2
              FROM subj GROUP BY 1),
    st AS (SELECT *,
                  CAST(sum(a) OVER () AS BIGINT)
                  - CAST(coalesce(sum(a) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n
           FROM per_t),
    tm AS (SELECT *,
                  CASE WHEN d1 + d2 > 0 AND d1 + d2 < n THEN
                    CAST(round(ln(CAST(n - (d1 + d2) AS DOUBLE))
                               * 1000000) AS BIGINT)
                    - CAST(round(ln(CAST(n AS DOUBLE)) * 1000000)
                           AS BIGINT)
                  ELSE 0 END AS term,
                  CASE WHEN d1 + d2 = n THEN 1 ELSE 0 END AS dies
           FROM st),
    cm AS (SELECT *,
                  CAST(coalesce(sum(term) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS lns_prev,
                  coalesce(max(dies) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS dead_prev
           FROM tm),
    sp AS (SELECT *,
                  CASE WHEN dead_prev = 1 THEN 0
                       ELSE CAST(round(exp(CAST(lns_prev AS DOUBLE)
                                           / 1000000) * 1000000)
                                 AS BIGINT) END AS s_prev_micro
           FROM cm),
    inc AS (SELECT *,
                   CAST(round(CAST(s_prev_micro AS DOUBLE) * d1 * 1000
                              / n) AS BIGINT) AS i1,
                   CAST(round(CAST(s_prev_micro AS DOUBLE) * d2 * 1000
                              / n) AS BIGINT) AS i2
            FROM sp),
    fin AS (SELECT *,
                   CAST(sum(i1) OVER (ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cif1_nano,
                   CAST(sum(i2) OVER (ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cif2_nano
            FROM inc)
    SELECT t AS duration, n AS n_at_risk, d1, d2,
           CAST(a - d1 - d2 AS BIGINT) AS n_censored_here,
           s_prev_micro, cif1_nano, cif2_nano
    FROM fin WHERE d1 + d2 > 0
    """,
)
def qc73(spark, sf):
    """Aalen–Johansen cumulative incidence for two competing session
    exit causes — engaged (≥2 events) vs bounce — censored at the
    30-min horizon (operators/stats.py:aalen_johansen); all-cause KM
    survival via qa67's ln-sum/exp idiom, CIF increments as mirrored
    double chains into nano units with integer cumsums."""
    from .operators.stats import aalen_johansen

    e = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            lag_us.isNull() | (us - lag_us > 1_800_000_000), 1
        )
        .otherwise(0)
        .alias("_new"),
    )
    sess = (
        flagged.select(
            "user_id",
            "ts",
            F.sum("_new")
            .over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("_sid"),
        )
        .groupBy("user_id", "_sid")
        .agg(
            F.min(us).alias("_f"),
            F.max(us).alias("_l"),
            F.count("*").cast("long").alias("_ne"),
        )
    )
    gm = e.agg(F.max(us).alias("_g"))
    subj = sess.crossJoin(F.broadcast(gm)).select(
        (F.col("_l") - F.col("_f")).alias("t"),
        F.when(F.col("_g") - F.col("_l") <= 1_800_000_000, F.lit(0))
        .when(F.col("_ne") >= 2, F.lit(1))
        .otherwise(F.lit(2))
        .alias("k"),
    )
    return aalen_johansen(subj, "t", "k")


# ---------------------------------------------------------------------------
# round-4 wave 72: NB overdispersion fit + QQ decile regression
# ---------------------------------------------------------------------------


@_q(
    "qc74_negbin_fit",
    """
    WITH cells AS (SELECT event_type, user_id,
                          CAST(count(*) AS BIGINT) AS x
                   FROM events GROUP BY 1, 2),
    per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s,
                   CAST(sum(x * x) AS BIGINT) AS q
            FROM cells GROUP BY 1)
    SELECT event_type, n AS n_units,
           CAST(round(CAST(s AS DOUBLE) * 1000 / n) AS BIGINT)
             AS mean_milli,
           CAST(round(CAST(n * q - s * s AS DOUBLE) * 1000
                      / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS var_milli,
           (n * q - s * s - n * s) > 0 AS overdispersed,
           CASE WHEN n * q - s * s - n * s > 0 THEN
             CAST(round(CAST(s AS DOUBLE) * s * 1000
                        / (n * q - s * s - n * s)) AS BIGINT) END
             AS r_milli,
           CASE WHEN n * q - s * s - n * s > 0 THEN
             CAST(round(CAST(n AS DOUBLE) * s * 1000 / (n * q - s * s))
                  AS BIGINT) END AS p_milli
    FROM per
    """,
)
def qc74(spark, sf):
    """Negative-binomial method-of-moments fit of per-user event
    counts for each event type (operators/stats.py:negbin_fit) — the
    overdispersion-aware rate model; r and p are ratios of integer
    moment sums with one mirrored double division each, NULL when the
    group is not overdispersed (Poisson adequate)."""
    from .operators.stats import negbin_fit

    cells = (
        _t(spark, sf, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").cast("long").alias("x"))
    )
    return negbin_fit(cells, "event_type", "x")


@_q(
    "qc75_qq_regression",
    """
    WITH e AS (SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) AS wk,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    base AS (SELECT (wk = 0 OR wk = 6) AS b, v FROM e),
    hist AS (SELECT b, v, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    cum AS (SELECT b, v, sum(c) OVER (PARTITION BY b ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
    tot AS (SELECT b, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    dec(decile) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)),
    qs AS (SELECT cum.b, d.decile, CAST(min(cum.v) AS BIGINT) AS q,
                  CAST(max(t.n) AS BIGINT) AS n
           FROM cum JOIN tot t ON t.b = cum.b
           JOIN dec d ON cum.cm >= (d.decile * t.n + 9) // 10
           GROUP BY 1, 2),
    pairs AS (SELECT a.decile, a.q AS q_a, a.n AS n_a,
                     bb.q AS q_b, bb.n AS n_b
              FROM (SELECT * FROM qs WHERE NOT b) a
              JOIN (SELECT * FROM qs WHERE b) bb USING (decile)),
    ols AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(q_a) AS BIGINT) AS sx,
                   CAST(sum(q_b) AS BIGINT) AS sy,
                   CAST(sum(q_a * q_b) AS BIGINT) AS sxy,
                   CAST(sum(q_a * q_a) AS BIGINT) AS sxx
            FROM pairs),
    co AS (SELECT CASE WHEN k * sxx - sx * sx <> 0 THEN
                    CAST(round((CAST(k AS DOUBLE) * sxy
                                - CAST(sx AS DOUBLE) * sy) * 1000
                               / (k * sxx - sx * sx)) AS BIGINT) END
                    AS slope_milli,
                  CASE WHEN k * sxx - sx * sx <> 0 THEN
                    CAST(round((CAST(sy AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sxy) * 1000
                               / (k * sxx - sx * sx)) AS BIGINT) END
                    AS intercept_milli
           FROM ols)
    SELECT CAST(p.decile AS BIGINT) AS decile, p.q_a, p.q_b, p.n_a,
           p.n_b, co.slope_milli, co.intercept_milli
    FROM pairs p CROSS JOIN co
    """,
)
def qc75(spark, sf):
    """QQ decile regression of weekend vs weekday event values
    (operators/stats.py:qq_decile_regression) — robust scale-ratio /
    location-shift summary; exact type-1 deciles from per-slice value
    histograms (qc56 rank idiom, qb71 portable day-of-week), 9-point
    int64 OLS with milli-rounded coefficients."""
    from .operators.stats import qq_decile_regression

    e = _t(spark, sf, "events").select(
        F.expr(
            "((unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7)"
        ).alias("_wk"),
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    base = e.select(
        ((F.col("_wk") == 0) | (F.col("_wk") == 6)).alias("_we"), "_v"
    )
    return qq_decile_regression(base, "_we", "_v")


# ---------------------------------------------------------------------------
# round-4 wave 73: OR homogeneity + Gopher filter bundle
# ---------------------------------------------------------------------------


@_q(
    "qc76_woolf_homogeneity",
    """
    WITH e AS (SELECT event_type AS s,
                      ((epoch_us(ts) // 86400000000 + 4) % 7) AS wk,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cut AS (SELECT CAST(min(v) AS BIGINT) AS cut FROM
            (SELECT v, sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist)
            CROSS JOIN nt WHERE cm >= (7500 * n + 9999) // 10000),
    cells AS (SELECT s,
                CAST(2 * sum(CASE WHEN (wk = 0 OR wk = 6) AND v > cut
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS a2,
                CAST(2 * sum(CASE WHEN (wk = 0 OR wk = 6) AND v <= cut
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS b2,
                CAST(2 * sum(CASE WHEN NOT (wk = 0 OR wk = 6) AND v > cut
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS c2,
                CAST(2 * sum(CASE WHEN NOT (wk = 0 OR wk = 6) AND v <= cut
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS d2
              FROM e CROSS JOIN cut GROUP BY 1),
    per AS (SELECT s,
                   (CAST(round(ln(CAST(a2 AS DOUBLE)) * 1e6) AS BIGINT)
                    + CAST(round(ln(CAST(d2 AS DOUBLE)) * 1e6) AS BIGINT)
                    - CAST(round(ln(CAST(b2 AS DOUBLE)) * 1e6) AS BIGINT)
                    - CAST(round(ln(CAST(c2 AS DOUBLE)) * 1e6) AS BIGINT))
                     AS t,
                   CAST(round(1000000.0 / (2.0 / a2 + 2.0 / b2
                              + 2.0 / c2 + 2.0 / d2)) AS BIGINT) AS w
            FROM cells),
    p2 AS (SELECT s, t, w, w * t AS wt,
                  CAST(round(CAST(w AS DOUBLE) * t * t
                             / 1000000000000) AS BIGINT) AS q1
           FROM per),
    ag AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  CAST(sum(w) AS BIGINT) AS sw,
                  CAST(sum(wt) AS BIGINT) AS swt,
                  CAST(sum(q1) AS BIGINT) AS sq
           FROM p2)
    SELECT n_strata,
           CAST(round(CAST(swt AS DOUBLE) / sw) AS BIGINT)
             AS lnor_pooled_micro,
           CAST(round((sq - CAST(round(CAST(swt AS DOUBLE) * swt
                                       / (CAST(sw AS DOUBLE)
                                          * 1000000000000)) AS BIGINT))
                      / 1000) AS BIGINT) AS q_milli,
           CAST(n_strata - 1 AS BIGINT) AS df
    FROM ag
    """,
)
def qc76(spark, sf):
    """Woolf homogeneity of the weekend/high-value odds ratio across
    event-type strata (operators/stats.py:woolf_homogeneity) — the
    gate on qb90's common-OR assumption; Haldane doubled-integer
    cells, ln_micro of integers, one mirrored weight chain per
    stratum, int64 cross-stratum sums."""
    from .operators.stats import woolf_homogeneity

    e = _t(spark, sf, "events").select(
        "event_type",
        F.expr(
            "((unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7)"
        ).alias("_wk"),
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    hist = e.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist.select("_v", F.sum("_c").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("_cm") >= F.expr("(7500 * _n + 9999) div 10000"))
        .agg(F.min("_v").alias("_cut"))
    )
    base = e.crossJoin(F.broadcast(cut)).select(
        "event_type",
        ((F.col("_wk") == 0) | (F.col("_wk") == 6)).alias("_we"),
        (F.col("_v") > F.col("_cut")).alias("_hi"),
    )
    return woolf_homogeneity(base, "event_type", "_we", "_hi")


def _qc77_oracle() -> str:
    from .operators.textstats import _STOPWORDS

    stop = ",".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(trim(regexp_replace(
               text, '\\s+', ' ', 'g'))), ' '), x -> x <> '') AS words
      FROM documents),
    s AS (SELECT doc_id,
                 CAST(len(words) AS BIGINT) AS n_words,
                 CAST(coalesce(list_sum(list_transform(words,
                      x -> length(x))), 0) AS BIGINT) AS sum_wlen,
                 CAST(len(list_filter(words,
                      x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
                   AS n_alpha,
                 CAST(len(list_filter(words,
                      x -> list_contains([{stop}], x))) AS BIGINT)
                   AS n_stop
          FROM w)
    SELECT doc_id, n_words, sum_wlen, n_alpha, n_stop,
           n_words >= 10 AND n_words <= 10000 AS n_words_ok,
           3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
             AS wlen_ok,
           5 * n_alpha >= 4 * n_words AS alpha_ok,
           n_stop >= 2 AS stop_ok,
           (n_words >= 10 AND n_words <= 10000)
             AND (3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words)
             AND (5 * n_alpha >= 4 * n_words) AND (n_stop >= 2)
             AS passes
    FROM s
    """


@_q("qc77_gopher_filter", None)
def qc77(spark, sf):
    """Gopher-style filter rule bundle per document
    (operators/textstats.py:gopher_filter_flags) — word-count bounds,
    mean-word-length and alpha-ratio rules as EXACT integer
    cross-multiplications (no division anywhere), stopword floor;
    single map-only scan."""
    from .operators.textstats import gopher_filter_flags

    return gopher_filter_flags(_t(spark, sf, "documents"))


ORACLES["qc77_gopher_filter"] = _qc77_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 74: isotonic calibration + GPD tail fit
# ---------------------------------------------------------------------------


@_q(
    "qc78_isotonic_calibration",
    """
    WITH base AS (SELECT CAST(n_chars AS BIGINT) AS s,
                         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
                  FROM documents),
    ext AS (SELECT min(s) AS mn, max(s) AS mx FROM base),
    bins AS (SELECT CAST(floor((s - mn) * 20 / (mx - mn + 1)) AS BIGINT)
                      AS bin,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(y) AS BIGINT) AS pos
             FROM base CROSS JOIN ext GROUP BY 1),
    pref AS (SELECT bin, n, pos,
                    CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS r,
                    CAST(sum(n) OVER (ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
                    CAST(sum(pos) OVER (ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
             FROM bins),
    iv AS (SELECT lo.r AS j, hi.r AS k,
                  CAST(round(CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
                             * 1000000 / (hi.cn - (lo.cn - lo.n)))
                       AS BIGINT) AS m
           FROM pref lo JOIN pref hi ON lo.r <= hi.r),
    inr AS (SELECT p.r AS i, iv.j, min(iv.m) AS minm
            FROM iv JOIN pref p ON iv.j <= p.r AND p.r <= iv.k
            GROUP BY 1, 2),
    iso AS (SELECT i, CAST(max(minm) AS BIGINT) AS iso_micro
            FROM inr GROUP BY 1)
    SELECT p.bin, p.r, p.n, p.pos,
           CAST(round(CAST(p.pos AS DOUBLE) * 1000000 / p.n) AS BIGINT)
             AS rate_micro,
           iso.iso_micro
    FROM pref p JOIN iso ON iso.i = p.r
    """,
)
def qc78(spark, sf):
    """Isotonic calibration fit over qc43's equal-width confidence
    bins (operators/evaluate.py:isotonic_calibration) — the exact
    max-min-interval-mean identity instead of a sequential PAV sweep,
    so the plan is static: per-interval means micro-rounded once from
    prefix-sum differences, the j<=i<=k lattice is a bounded bin-
    dimension cube, min/max on int64."""
    from .operators.evaluate import isotonic_calibration

    d = _t(spark, sf, "documents")
    return isotonic_calibration(
        d, "n_chars", F.col("lang") == F.lit("en"), n_bins=20
    )


@_q(
    "qc79_gpd_tail",
    """
    WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base
             GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cum AS (SELECT v, sum(c) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
    pg(pct) AS (VALUES (50), (60), (70), (80), (90)),
    cuts AS (SELECT pct, CAST(min(v) AS BIGINT) AS u
             FROM cum CROSS JOIN nt JOIN pg ON cm * 100 >= pct * n
             GROUP BY 1),
    agg AS (SELECT pct, u, CAST(count(*) AS BIGINT) AS n_exceed,
                   CAST(sum(v - u) AS BIGINT) AS s,
                   sum(CAST(v - u AS HUGEINT) * (v - u)) AS q
            FROM base CROSS JOIN cuts WHERE v > u GROUP BY 1, 2)
    SELECT CAST(pct AS BIGINT) AS pct, u AS u_value, n_exceed,
           CAST(round(CAST(s AS DOUBLE) * 1000 / n_exceed) AS BIGINT)
             AS mean_excess_milli,
           CASE WHEN CAST(n_exceed * q - CAST(s AS HUGEINT) * s
                          AS DOUBLE) > 0 THEN
             CAST(round(CAST(n_exceed * q - 2 * CAST(s AS HUGEINT) * s
                             AS DOUBLE) * 500
                        / CAST(n_exceed * q - CAST(s AS HUGEINT) * s
                               AS DOUBLE)) AS BIGINT) END AS xi_milli,
           CASE WHEN CAST(n_exceed * q - CAST(s AS HUGEINT) * s
                          AS DOUBLE) > 0 THEN
             CAST(round(CAST(s AS DOUBLE) * CAST(q AS DOUBLE) * 500
                        / CAST(n_exceed * q - CAST(s AS HUGEINT) * s
                               AS DOUBLE)) AS BIGINT) END AS sigma_milli
    FROM agg
    """,
)
def qc79(spark, sf):
    """Mean-excess curve + GPD method-of-moments tail fit of event
    values over five exact percentile thresholds
    (operators/stats.py:gpd_mean_excess) — peaks-over-threshold
    companion to Hill/Gumbel; xi and sigma are ratios of decimal38
    integer moment sums with one mirrored double division each."""
    from .operators.stats import gpd_mean_excess

    e = _t(spark, sf, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return gpd_mean_excess(e, "cents", (50, 60, 70, 80, 90))


# ---------------------------------------------------------------------------
# round-4 wave 75: LSH planner grid + dedup savings report
# ---------------------------------------------------------------------------


def _qc80_oracle() -> str:
    rows = ", ".join(
        f"({s}, {b}, {r})"
        for s in range(1, 10)
        for (b, r) in ((32, 4), (16, 8), (8, 16))
    )
    return f"""
    WITH g(s_decile, b, r) AS (VALUES {rows}),
    s1 AS (SELECT s_decile, b, r,
                  CAST(s_decile AS DOUBLE) / 10 AS v1 FROM g),
    s2 AS (SELECT *, v1 * v1 AS v2 FROM s1),
    s4 AS (SELECT *, v2 * v2 AS v4 FROM s2),
    s8 AS (SELECT *, v4 * v4 AS v8 FROM s4),
    s16 AS (SELECT *, v8 * v8 AS v16 FROM s8),
    t1 AS (SELECT *, 1.0 - (CASE WHEN r = 4 THEN v4
                                 WHEN r = 8 THEN v8
                                 ELSE v16 END) AS w1 FROM s16),
    t2 AS (SELECT *, w1 * w1 AS w2 FROM t1),
    t4 AS (SELECT *, w2 * w2 AS w4 FROM t2),
    t8 AS (SELECT *, w4 * w4 AS w8 FROM t4),
    t16 AS (SELECT *, w8 * w8 AS w16 FROM t8),
    t32 AS (SELECT *, w16 * w16 AS w32 FROM t16)
    SELECT CAST(s_decile AS BIGINT) AS s_decile, CAST(b AS BIGINT) AS b,
           CAST(r AS BIGINT) AS r,
           CAST(round((1.0 - (CASE WHEN b = 8 THEN w8
                                   WHEN b = 16 THEN w16
                                   ELSE w32 END)) * 1000000) AS BIGINT)
             AS p_micro
    FROM t32
    """


@_q("qc80_lsh_planner", None)
def qc80(spark, sf):
    """LSH banding planner grid (operators/dedup.py:lsh_collision_grid)
    — collision S-curves for the repo's own q26/q30 banding configs;
    power-of-two exponents via mirrored IEEE square-chains (no pow, no
    exp/ln), pure 27-row dimension computation."""
    from .operators.dedup import lsh_collision_grid

    return lsh_collision_grid(spark)


ORACLES["qc80_lsh_planner"] = _qc80_oracle()


@_q("qc81_dedup_savings", None)
def qc81(spark, sf):
    """Storage-savings report over q64's dedup clusters
    (operators/dedup.py:dedup_savings_report) — cluster-size
    histogram with exact byte totals and representative-only savings;
    singletons reconcile the totals against the raw corpus; the
    oracle wraps q64's recursive-closure SQL verbatim (qb97
    single-source-of-truth idiom)."""
    from .operators.dedup import (
        dedup_clusters,
        dedup_savings_report,
        minhash_band_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf, "documents")
    sig = minhash_signatures(
        d, "text", "doc_id", num_hashes=_MINHASH_N, shingle_n=2
    )
    pairs = minhash_band_pairs(
        sig, "doc_id", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    return dedup_savings_report(d, dedup_clusters(pairs))


ORACLES["qc81_dedup_savings"] = f"""
    WITH cl AS ({{Q64}}),
    j AS (SELECT d.doc_id, d.n_chars,
                 coalesce(cl.cluster_rep, d.doc_id) AS cluster
          FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
    pc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS csize,
                  CAST(sum(n_chars) AS BIGINT) AS cbytes,
                  CAST(sum(CASE WHEN doc_id = cluster THEN n_chars
                                ELSE 0 END) AS BIGINT) AS rep_bytes
           FROM j GROUP BY 1)
    SELECT csize AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(csize) AS BIGINT) AS n_docs,
           CAST(sum(cbytes) AS BIGINT) AS bytes_total,
           CAST(sum(cbytes - rep_bytes) AS BIGINT) AS bytes_savable
    FROM pc GROUP BY 1
""".replace("{Q64}", ORACLES["q64_dedup_clusters"])


# ---------------------------------------------------------------------------
# round-4 wave 76: tail severity + user-model ranking metric
# ---------------------------------------------------------------------------


@_q(
    "qc82_expected_shortfall",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    hist AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    nt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    vr AS (SELECT g, CAST(min(v) AS BIGINT) AS var_value FROM
           (SELECT h.g, h.v,
                   sum(h.c) OVER (PARTITION BY h.g ORDER BY h.v
                                  ROWS UNBOUNDED PRECEDING) AS cm,
                   nt.n
            FROM hist h JOIN nt ON nt.g = h.g)
           WHERE cm >= (9500 * n + 9999) // 10000 GROUP BY 1),
    tl AS (SELECT b.g, CAST(max(vr.var_value) AS BIGINT) AS var_value,
                  CAST(sum(CASE WHEN b.v > vr.var_value THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_tail,
                  CAST(sum(CASE WHEN b.v > vr.var_value THEN b.v
                           ELSE 0 END) AS BIGINT) AS ts
           FROM base b JOIN vr ON vr.g = b.g GROUP BY 1)
    SELECT tl.g AS event_type, nt.n, tl.var_value, tl.n_tail,
           CAST(round(tl.n_tail * 1000000 / nt.n) AS BIGINT)
             AS tail_frac_micro,
           CASE WHEN tl.n_tail > 0 THEN
             CAST(round(CAST(tl.ts AS DOUBLE) * 1000 / tl.n_tail)
                  AS BIGINT) END AS es_milli
    FROM tl JOIN nt ON nt.g = tl.g
    """,
)
def qc82(spark, sf):
    """Expected shortfall (CVaR) at the exact 95% empirical VaR per
    event type (operators/stats.py:expected_shortfall) — tail
    severity next to qc59's exceedance-count backtest; per-group
    type-1 histogram VaR (partitioned windows), integer tail sums,
    one rounded division."""
    from .operators.stats import expected_shortfall

    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return expected_shortfall(e, "event_type", "cents", 9500)


def _qc83_oracle() -> str:
    from .operators.evaluate import rbp_weights

    w = rbp_weights(10)
    denom = 4 ** 10
    residual = round((1 - sum(w) / denom) * 1_000_000)
    wt_rows = ", ".join(
        f"({j + 1}, CAST({x} AS BIGINT))" for j, x in enumerate(w)
    )
    return f"""
    WITH wt(p, w) AS (VALUES {wt_rows}),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec,
                 label AS ql
          FROM embeddings WHERE vec_id < 12),
    scored AS (
      SELECT q.query_id, e.vec_id,
             CAST(round(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qvec) * 1e6)
                  AS BIGINT) AS cos,
             CAST(CASE WHEN e.label = q.ql THEN 2
                       WHEN abs(e.label - q.ql) = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    topk AS (
      SELECT query_id, rel, r FROM (
        SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS r
        FROM scored)
      WHERE r <= 10),
    per AS (SELECT t.query_id,
                   CAST(sum(CASE WHEN t.rel >= 1 THEN wt.w ELSE 0 END)
                        AS BIGINT) AS hits_w
            FROM topk t JOIN wt ON wt.p = t.r GROUP BY 1),
    mn AS (SELECT CAST(round(CAST(sum(hits_w) AS DOUBLE) * 1000000
                             / (count(*) * {denom})) AS BIGINT)
                    AS mean_rbp_micro
           FROM per)
    SELECT per.query_id, per.hits_w,
           CAST(round(per.hits_w * 1000000 / {denom}) AS BIGINT)
             AS rbp_micro,
           CAST({residual} AS BIGINT) AS residual_micro,
           mn.mean_rbp_micro
    FROM per CROSS JOIN mn
    """


@_q("qc83_rbp", None)
def qc83(spark, sf):
    """Rank-biased precision (p = 3/4) of the qa89 cosine retrieval
    (operators/evaluate.py:rbp_at_k) — the geometric user-model
    ranking metric; dyadic persistence makes every position weight an
    exact integer over 4^10 (injected both engines), truncation
    residual reported."""
    from .operators.evaluate import rbp_at_k
    from .operators.similarity import cosine_cols

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_ql"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_cols(
                    F.col("embedding").cast("array<double>"),
                    F.col("_qv").cast("array<double>"),
                )
                * 1e6
            )
            .cast("bigint")
            .alias("_cos"),
            F.when(F.col("label") == F.col("_ql"), 2)
            .when(F.abs(F.col("label") - F.col("_ql")) == 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return rbp_at_k(ranked, "query_id", "rank", "rel", 10)


ORACLES["qc83_rbp"] = _qc83_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 77: stylometry + autocorrelation-aware variance
# ---------------------------------------------------------------------------


@_q(
    "qc84_burrows_delta",
    r"""
    WITH tok AS (SELECT s, w FROM (
                   SELECT source AS s,
                          unnest(string_split(lower(trim(regexp_replace(
                            text, '\s+', ' ', 'g'))), ' ')) AS w
                   FROM documents) WHERE length(w) > 0),
    top AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY 1)
            ORDER BY c DESC, w LIMIT 25),
    counts AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c
               FROM tok JOIN top USING (w) GROUP BY 1, 2),
    totals AS (SELECT s, CAST(count(*) AS BIGINT) AS t
               FROM tok GROUP BY 1),
    grid AS (SELECT totals.s, top.w,
                    CAST(round(CAST(coalesce(counts.c, 0) AS DOUBLE)
                               * 1000000 / totals.t) AS BIGINT) AS f
             FROM totals CROSS JOIN top
             LEFT JOIN counts ON counts.s = totals.s
                             AND counts.w = top.w),
    per_w AS (SELECT w, CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(f) AS BIGINT) AS sf,
                     CAST(sum(f * f) AS BIGINT) AS sff
              FROM grid GROUP BY 1),
    z AS (SELECT g.s, g.w,
                 CASE WHEN p.k * p.sff - p.sf * p.sf > 0 THEN
                   CAST(round(CAST(p.k * g.f - p.sf AS DOUBLE) * 1000
                              / sqrt(CAST(p.k * p.sff - p.sf * p.sf
                                          AS DOUBLE))) AS BIGINT)
                 ELSE 0 END AS z
          FROM grid g JOIN per_w p USING (w))
    SELECT a.s AS source_a, b.s AS source_b,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(round(sum(abs(a.z - b.z)) / count(*)) AS BIGINT)
             AS delta_milli
    FROM z a JOIN z b ON a.w = b.w AND a.s < b.s
    GROUP BY 1, 2
    """,
)
def qc84(spark, sf):
    """Burrows' Delta stylometric distance between every source pair
    (operators/textstats.py:burrows_delta) — provenance drift on
    function-word style; dense source × top-25-word grid with exact
    zero cells, integer z-identity (K·f−Σf)/sqrt(K·Σf²−(Σf)²), one
    terminal division per pair."""
    from .operators.textstats import burrows_delta

    return burrows_delta(_t(spark, sf, "documents"), "source", "text", 25)


@_q(
    "qc85_newey_west",
    """
    WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         CAST(count(*) AS BIGINT) AS x
                  FROM events GROUP BY 1),
    mn AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS t FROM mn),
    dense AS (SELECT spine.t, CAST(coalesce(days.x, 0) AS BIGINT) AS x
              FROM spine LEFT JOIN days ON days.day = spine.t),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx FROM dense),
    z AS (SELECT t, n * x - sx AS z, n FROM dense CROSS JOIN tot),
    lg AS (SELECT t, z, n,
                  lead(z, 1) OVER (ORDER BY t) AS z1,
                  lead(z, 2) OVER (ORDER BY t) AS z2,
                  lead(z, 3) OVER (ORDER BY t) AS z3,
                  lead(z, 4) OVER (ORDER BY t) AS z4,
                  lead(z, 5) OVER (ORDER BY t) AS z5,
                  lead(z, 6) OVER (ORDER BY t) AS z6,
                  lead(z, 7) OVER (ORDER BY t) AS z7
           FROM z),
    gam AS (SELECT CAST(max(n) AS BIGINT) AS n_days,
                   CAST(sum(z * z) AS BIGINT) AS g0,
                   CAST(sum(z * z1) AS BIGINT) AS g1,
                   CAST(sum(z * z2) AS BIGINT) AS g2,
                   CAST(sum(z * z3) AS BIGINT) AS g3,
                   CAST(sum(z * z4) AS BIGINT) AS g4,
                   CAST(sum(z * z5) AS BIGINT) AS g5,
                   CAST(sum(z * z6) AS BIGINT) AS g6,
                   CAST(sum(z * z7) AS BIGINT) AS g7
            FROM lg),
    summ AS (SELECT *,
                    CAST(g0 * 8 + 2 * 7 * g1 + 2 * 6 * g2 + 2 * 5 * g3
                         + 2 * 4 * g4 + 2 * 3 * g5 + 2 * 2 * g6
                         + 2 * 1 * g7 AS BIGINT) AS lrv8
             FROM gam),
    s2 AS (SELECT *,
                  CASE WHEN g0 > 0 THEN
                    CAST(round(CAST(lrv8 AS DOUBLE) * 1000000
                               / (g0 * 8)) AS BIGINT) END AS vif_micro,
                  CAST(round(CAST(lrv8 AS DOUBLE) * 1000
                             / (CAST(8 AS DOUBLE) * n_days * n_days
                                * n_days)) AS BIGINT) AS lrv_milli
           FROM summ),
    lw(lag, bartlett_w8) AS (VALUES (0, 8), (1, 7), (2, 6), (3, 5),
                                    (4, 4), (5, 3), (6, 2), (7, 1))
    SELECT CAST(lw.lag AS BIGINT) AS lag,
           CAST(lw.bartlett_w8 AS BIGINT) AS bartlett_w8,
           CASE lw.lag WHEN 0 THEN g0 WHEN 1 THEN g1 WHEN 2 THEN g2
                       WHEN 3 THEN g3 WHEN 4 THEN g4 WHEN 5 THEN g5
                       WHEN 6 THEN g6 ELSE g7 END AS gamma_scaled,
           n_days, lrv8, vif_micro, lrv_milli
    FROM lw CROSS JOIN s2
    """,
)
def qc85(spark, sf):
    """Newey–West long-run variance of daily event volume at L = 7
    (operators/temporal.py:newey_west_lrv) — Bartlett eighth-weights
    keep the kernel sum int64 over scaled deviations z = n·x − S on
    the dense day spine (gap days are exact zeros); reports the
    variance-inflation factor the iid A/B denominator misses."""
    from .operators.temporal import newey_west_lrv

    days = (
        _t(spark, sf, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("x"))
    )
    return newey_west_lrv(days, "t", "x", 7)


# ---------------------------------------------------------------------------
# round-4 wave 78: semi-Markov rates + pass@k
# ---------------------------------------------------------------------------


@_q(
    "qc86_semi_markov",
    """
    WITH pairs AS (
      SELECT event_type AS t_to,
             lag(event_type) OVER w AS t_from,
             epoch_us(ts) - epoch_us(lag(ts) OVER w) AS dt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p2 AS (SELECT t_from, t_to, dt FROM pairs WHERE t_from IS NOT NULL),
    cells AS (SELECT t_from, t_to, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(dt) AS BIGINT) AS sdt
              FROM p2 GROUP BY 1, 2),
    marg AS (SELECT t_from, CAST(sum(n) AS BIGINT) AS ci,
                    CAST(sum(sdt) AS BIGINT) AS si
             FROM cells GROUP BY 1)
    SELECT c.t_from AS from_state, c.t_to AS to_state, c.n,
           CAST(round(c.n * 1000000 / m.ci) AS BIGINT) AS p_micro,
           CAST(round(CAST(m.si AS DOUBLE) / (m.ci * 1000)) AS BIGINT)
             AS mean_hold_ms,
           CASE WHEN m.si > 0 THEN
             CAST(round(CAST(c.n AS DOUBLE) * 3600000000 * 1000 / m.si)
                  AS BIGINT) END AS rate_per_hour_milli
    FROM cells c JOIN marg m ON m.t_from = c.t_from
    """,
)
def qc86(spark, sf):
    """Semi-Markov transition rates of the per-user event chain
    (operators/temporal.py:semi_markov_rates) — qa13's discrete
    transition matrix plus holding times, yielding events/hour jump
    rates; per-cell single mirrored divisions of int64 sums."""
    from .operators.temporal import semi_markov_rates

    return semi_markov_rates(_t(spark, sf, "events"))


def _qc87_oracle() -> str:
    from .operators.evaluate import pass_at_k_table

    rows = ", ".join(
        f"({k}, {c}, CAST({nu} AS BIGINT), CAST({de} AS BIGINT))"
        for k, c, nu, de in pass_at_k_table(10, (1, 5, 10))
    )
    return f"""
    WITH tbl(k, c, numer, denom) AS (VALUES {rows}),
    e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                 CAST(round(value * 100) AS BIGINT) AS v
          FROM events),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS hc FROM e GROUP BY 1),
    nt AS (SELECT CAST(sum(hc) AS BIGINT) AS n FROM hist),
    cut AS (SELECT CAST(min(v) AS BIGINT) AS cut FROM
            (SELECT v, sum(hc) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist)
            CROSS JOIN nt WHERE cm >= (5000 * n + 9999) // 10000),
    r AS (SELECT user_id, v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS rn
          FROM e),
    pt AS (SELECT user_id,
                  CAST(sum(CASE WHEN v > cut.cut THEN 1 ELSE 0 END)
                       AS BIGINT) AS c
           FROM r CROSS JOIN cut WHERE rn <= 10
           GROUP BY 1 HAVING count(*) = 10),
    ch AS (SELECT c, CAST(count(*) AS BIGINT) AS n_tasks
           FROM pt GROUP BY 1),
    j AS (SELECT tbl.k, tbl.c, ch.n_tasks, tbl.numer, tbl.denom,
                 CAST(round((tbl.denom - tbl.numer) * 1000000
                            / tbl.denom) AS BIGINT) AS pass_micro
          FROM ch JOIN tbl ON tbl.c = ch.c),
    mac AS (SELECT k,
                   CAST(round(CAST(sum(n_tasks * (denom - numer))
                                   AS DOUBLE) * 1000000
                              / (max(denom) * sum(n_tasks))) AS BIGINT)
                     AS macro_pass_micro
            FROM j GROUP BY 1)
    SELECT CAST(j.k AS BIGINT) AS k, CAST(j.c AS BIGINT) AS c,
           j.n_tasks, j.pass_micro, mac.macro_pass_micro
    FROM j JOIN mac ON mac.k = j.k
    """


@_q("qc87_pass_at_k", None)
def qc87(spark, sf):
    """Unbiased pass@{1,5,10} over each user's first 10 attempts
    (operators/evaluate.py:pass_at_k) — the HumanEval estimator
    1 − C(n−c,k)/C(n,k) against an injected math.comb table; success
    = value above the exact global median; macro average is one
    division over the correct-count histogram."""
    from .operators.evaluate import pass_at_k

    e = _t(spark, sf, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    hist = e.groupBy("_v").agg(F.count("*").cast("long").alias("_hc"))
    nt = hist.agg(F.sum("_hc").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist.select("_v", F.sum("_hc").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("_cm") >= F.expr("(5000 * _n + 9999) div 10000"))
        .agg(F.min("_v").alias("_cut"))
    )
    flagged = e.crossJoin(F.broadcast(cut)).select(
        "user_id",
        "_us",
        "event_id",
        (F.col("_v") > F.col("_cut")).alias("_ok"),
    )
    return pass_at_k(
        flagged, "user_id", "_ok", ["_us", "event_id"], 10, (1, 5, 10)
    )


ORACLES["qc87_pass_at_k"] = _qc87_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 79: embedding-space audits
# ---------------------------------------------------------------------------


@_q(
    "qc88_isotropy_audit",
    """
    WITH ex AS (SELECT id, j,
                       CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                         AS xm
                FROM (SELECT vec_id AS id, unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) AS j
                      FROM embeddings)),
    dims AS (SELECT j, CAST(sum(xm) AS BIGINT) AS sj FROM ex GROUP BY 1),
    sv AS (SELECT sum(CAST(sj AS HUGEINT) * sj) AS svn2 FROM dims),
    tot AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS n,
                   CAST(sum(xm * xm) AS BIGINT) AS sn2 FROM ex)
    SELECT n AS n_vecs, sn2 AS sum_norm2,
           CAST(round(CAST(svn2 AS DOUBLE) / 1000000) AS BIGINT)
             AS sumvec_norm2_div1e6,
           CAST(round(CAST(sn2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000))
                AS BIGINT) AS mean_norm2_micro,
           CAST(round((CAST(svn2 AS DOUBLE) - sn2)
                      / (CAST(n AS DOUBLE) * (n - 1) * 1000000))
                AS BIGINT) AS mean_pair_dot_micro,
           CAST(round((CAST(svn2 AS DOUBLE) - sn2) * 1000000
                      / (CAST(n - 1 AS DOUBLE) * sn2)) AS BIGINT)
             AS anisotropy_micro
    FROM tot CROSS JOIN sv
    """,
)
def qc88(spark, sf):
    """Embedding isotropy audit (operators/similarity.py:
    isotropy_audit) — mean pairwise dot via the exact identity
    Σ_{i≠j}x_i·x_j = ‖Σx‖² − Σ‖x‖², two aggregations, no sampling,
    no O(n²); decimal38/HUGEINT squared dim-sums, three mirrored
    single divisions."""
    from .operators.similarity import isotropy_audit

    return isotropy_audit(_t(spark, sf, "embeddings"))


@_q(
    "qc89_fisher_dims",
    """
    WITH ex AS (SELECT c, j,
                       CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                         AS xm
                FROM (SELECT label AS c, unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) AS j
                      FROM embeddings)),
    pc AS (SELECT c, j, CAST(count(*) AS BIGINT) AS nc,
                  CAST(sum(xm) AS BIGINT) AS sc,
                  CAST(sum(xm * xm) AS BIGINT) AS qc
           FROM ex GROUP BY 1, 2),
    cells AS (SELECT j, nc, sc, qc,
                     CAST(round(CAST(sc AS DOUBLE) * sc / nc) AS BIGINT)
                       AS r
              FROM pc),
    pd AS (SELECT j, CAST(count(*) AS BIGINT) AS n_classes,
                  CAST(sum(nc) AS BIGINT) AS n,
                  CAST(sum(sc) AS BIGINT) AS s,
                  CAST(sum(qc) AS BIGINT) AS q,
                  CAST(sum(r) AS BIGINT) AS rr
           FROM cells GROUP BY 1)
    SELECT CAST(j AS BIGINT) AS j, n_classes,
           CAST(rr - CAST(round(CAST(s AS DOUBLE) * s / n) AS BIGINT)
                AS BIGINT) AS b_scaled,
           CAST(q - rr AS BIGINT) AS w_scaled,
           CAST(round(CAST(rr - CAST(round(CAST(s AS DOUBLE) * s / n)
                                     AS BIGINT) AS DOUBLE) * 1000000
                      / (q - rr)) AS BIGINT) AS fisher_micro
    FROM pd WHERE q - rr > 0
    ORDER BY fisher_micro DESC, j LIMIT 10
    """,
)
def qc89(spark, sf):
    """Top-10 class-discriminative embedding dimensions by Fisher
    ratio (operators/similarity.py:fisher_discriminant_dims) — B/W
    from integer moment sums with per-cell mirrored S²/n roundings;
    zero-variance dims excluded before the TakeOrdered ranking."""
    from .operators.similarity import fisher_discriminant_dims

    return fisher_discriminant_dims(
        _t(spark, sf, "embeddings"), "embedding", "label", 10
    )


# ---------------------------------------------------------------------------
# round-4 wave 80: capacity math + paired agreement
# ---------------------------------------------------------------------------


def _qc90_oracle(max_servers: int = 20, target_milli: int = 10) -> str:
    chain = ""
    for k in range(1, max_servers + 1):
        chain += (
            f",\n    s{k} AS (SELECT *, p{k - 1} * a / {k} AS p{k}, "
            f"c{k - 1} + p{k - 1} * a / {k} AS c{k} FROM s{k - 1})"
        )
    cases = " ".join(
        f"WHEN {k} THEN CAST(round(p{k} * 1000000 / c{k}) AS BIGINT)"
        for k in range(1, max_servers + 1)
    )
    vals = ", ".join(f"({k})" for k in range(1, max_servers + 1))
    return f"""
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT u, us,
             CASE WHEN lag(us) OVER (PARTITION BY u ORDER BY us) IS NULL
                   OR us - lag(us) OVER (PARTITION BY u ORDER BY us)
                      > 1800000000
                  THEN 1 ELSE 0 END AS nw
      FROM base),
    sess AS (SELECT u, us,
                    sum(nw) OVER (PARTITION BY u ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sid
             FROM flagged),
    bounds AS (SELECT u, sid, min(us) AS s, max(us) AS e
               FROM sess GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(e - s + 1) AS BIGINT) AS dur,
                   CAST(max(e) + 1 - min(s) AS BIGINT) AS span
            FROM bounds),
    s0 AS (SELECT dur, span, CAST(dur AS DOUBLE) / span AS a,
                  CAST(1.0 AS DOUBLE) AS p0, CAST(1.0 AS DOUBLE) AS c0
           FROM tot){chain},
    rws AS (SELECT CAST(round(dur * 1000 / span) AS BIGINT) AS a_milli,
                   u.c,
                   CASE u.c {cases} END AS erlang_b_micro
            FROM s{max_servers} CROSS JOIN (VALUES {vals}) u(c)),
    rec AS (SELECT min(c) AS rc FROM rws
            WHERE erlang_b_micro <= {target_milli * 1000})
    SELECT CAST(rws.c AS BIGINT) AS c, rws.a_milli, rws.erlang_b_micro,
           rws.c = rec.rc AS recommended
    FROM rws CROSS JOIN rec
    """


@_q("qc90_erlang_blocking", None)
def qc90(spark, sf):
    """Erlang-B blocking table from sessionized load
    (operators/temporal.py:erlang_blocking) — offered Erlangs is
    exactly busy-time/span; B(c) via the mirrored ascending-series
    chain p_k = p_{k-1}·a/k (no pow/gamma), smallest c at ≤1%
    blocking flagged."""
    from .operators.temporal import erlang_blocking

    return erlang_blocking(_t(spark, sf, "events"))


ORACLES["qc90_erlang_blocking"] = _qc90_oracle()


@_q(
    "qc91_bland_altman",
    """
    WITH e AS (SELECT user_id AS u,
                      ((epoch_us(ts) // 86400000000 + 4) % 7) AS wk,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    cells AS (SELECT u, (wk = 0 OR wk = 6) AS b,
                     CAST(round(CAST(sum(v) AS DOUBLE) * 1000
                                / count(*)) AS BIGINT) AS m
              FROM e GROUP BY 1, 2),
    pairs AS (SELECT bb.m - aa.m AS d
              FROM (SELECT u, m FROM cells WHERE NOT b) aa
              JOIN (SELECT u, m FROM cells WHERE b) bb USING (u)),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(d) AS BIGINT) AS sd,
                   sum(CAST(d AS HUGEINT) * d) AS sdd FROM pairs),
    stats AS (SELECT n,
                     CAST(round(CAST(sd AS DOUBLE) / n) AS BIGINT)
                       AS bias_milli,
                     CAST(round(sqrt(CAST(n * sdd
                                          - CAST(sd AS HUGEINT) * sd
                                          AS DOUBLE)) / n) AS BIGINT)
                       AS sd_milli
              FROM agg),
    s2 AS (SELECT *,
                  bias_milli - CAST(round(sd_milli * 1960 / 1000)
                                    AS BIGINT) AS loa_lo_milli,
                  bias_milli + CAST(round(sd_milli * 1960 / 1000)
                                    AS BIGINT) AS loa_hi_milli
           FROM stats),
    outs AS (SELECT CAST(sum(CASE WHEN p.d < s2.loa_lo_milli
                                    OR p.d > s2.loa_hi_milli
                                  THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_outside
             FROM pairs p CROSS JOIN s2)
    SELECT s2.n AS n_pairs, s2.bias_milli, s2.sd_milli,
           s2.loa_lo_milli, s2.loa_hi_milli, outs.n_outside,
           CAST(round(outs.n_outside * 1000000 / s2.n) AS BIGINT)
             AS outside_micro
    FROM s2 CROSS JOIN outs
    """,
)
def qc91(spark, sf):
    """Bland–Altman agreement of per-user weekend vs weekday mean
    spend (operators/stats.py:bland_altman) — bias ± 1.96·SD limits
    with 1.96 as the exact rational 1960/1000; per-cell milli means,
    decimal38 centered variance, integer outside-limits count."""
    from .operators.stats import bland_altman

    e = _t(spark, sf, "events").select(
        "user_id",
        F.expr(
            "((unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7)"
        ).alias("_wk"),
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    base = e.select(
        "user_id",
        ((F.col("_wk") == 0) | (F.col("_wk") == 6)).alias("_we"),
        "_v",
    )
    return bland_altman(base, "user_id", "_we", "_v")


# ---------------------------------------------------------------------------
# round-4 wave 81: SRE burn-rate alerting + wavelet energy
# ---------------------------------------------------------------------------


@_q(
    "qc92_slo_burn_rate",
    """
    WITH e AS (SELECT epoch_us(ts) // 3600000000 AS h,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cut AS (SELECT CAST(min(v) AS BIGINT) AS cut FROM
            (SELECT v, sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist)
            CROSS JOIN nt WHERE cm >= (1000 * n + 9999) // 10000),
    hours AS (SELECT h, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN v < cut.cut THEN 1 ELSE 0 END)
                          AS BIGINT) AS err
              FROM e CROSS JOIN cut GROUP BY 1),
    ext AS (SELECT min(h) AS lo, max(h) AS hi FROM hours),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS h FROM ext),
    dense AS (SELECT spine.h, CAST(coalesce(hours.n, 0) AS BIGINT) AS n,
                     CAST(coalesce(hours.err, 0) AS BIGINT) AS err
              FROM spine LEFT JOIN hours ON hours.h = spine.h),
    agg AS (SELECT h, n, err,
                   CAST(sum(n) OVER w6 AS BIGINT) AS n6,
                   CAST(sum(err) OVER w6 AS BIGINT) AS e6
            FROM dense
            WINDOW w6 AS (ORDER BY h RANGE BETWEEN 5 PRECEDING
                          AND CURRENT ROW)),
    b AS (SELECT h, n, err, n6, e6,
                 CASE WHEN n > 0 THEN
                   CAST(round(err * 10000000 / (n * 1000)) AS BIGINT)
                 END AS b1,
                 CASE WHEN n6 > 0 THEN
                   CAST(round(e6 * 10000000 / (n6 * 1000)) AS BIGINT)
                 END AS b6
          FROM agg)
    SELECT h AS hour_idx, n AS n_1h, err AS err_1h, b1 AS burn_1h_milli,
           n6 AS n_6h, e6 AS err_6h, b6 AS burn_6h_milli,
           coalesce(b1 >= 14400, FALSE) AND coalesce(b6 >= 6000, FALSE)
             AS page
    FROM b
    """,
)
def qc92(spark, sf):
    """Multi-window SLO burn-rate alerting per hour
    (operators/temporal.py:slo_burn_rate) — the SRE-workbook page
    rule (1h ≥ 14.4× AND 6h ≥ 6×) on a dense hour spine; errors =
    values under the exact global p10 cut, one mirrored division per
    window."""
    from .operators.temporal import slo_burn_rate

    e = _t(spark, sf, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("_v")
    )
    hist = e.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist.select("_v", F.sum("_c").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("_cm") >= F.expr("(1000 * _n + 9999) div 10000"))
        .agg(F.min("_v").alias("_cut"))
    )
    flagged = e.crossJoin(F.broadcast(cut)).select(
        "ts", (F.col("_v") < F.col("_cut")).alias("_iserr")
    )
    return slo_burn_rate(flagged, "ts", "_iserr", slo_bp=1000)


@_q(
    "qc93_haar_energy",
    """
    WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         CAST(count(*) AS BIGINT) AS x
                  FROM events GROUP BY 1),
    mn AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS t FROM mn),
    dense AS (SELECT spine.t, CAST(coalesce(days.x, 0) AS BIGINT) AS x
              FROM spine LEFT JOIN days ON days.day = spine.t),
    ext AS (SELECT min(t) AS lo, CAST(count(*) AS BIGINT) AS cnt
            FROM dense),
    ub AS (SELECT dense.t - ext.lo AS i, dense.x,
                  ext.cnt - ext.cnt % 8 AS nu
           FROM dense CROSS JOIN ext),
    u2 AS (SELECT i, x FROM ub WHERE i < nu),
    tot AS (SELECT (SELECT max(nu) FROM ub) AS n_used,
                   sum(CAST(x AS HUGEINT) * x) AS sx2 FROM u2),
    l1 AS (SELECT i // 2 AS p,
                  CAST(sum(CASE WHEN i % 2 = 0 THEN x ELSE -x END)
                       AS BIGINT) AS d,
                  CAST(sum(x) AS BIGINT) AS s
           FROM u2 GROUP BY 1),
    e1 AS (SELECT CAST(1 AS BIGINT) AS level,
                  CAST(count(*) AS BIGINT) AS n_coeffs,
                  CAST(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                       AS BIGINT) AS energy,
                  CAST(CAST(sum(CAST(d AS HUGEINT) * d) * 4 AS DOUBLE)
                       AS BIGINT) AS energy_scaled
           FROM l1),
    l2 AS (SELECT p // 2 AS p,
                  CAST(sum(CASE WHEN p % 2 = 0 THEN s ELSE -s END)
                       AS BIGINT) AS d,
                  CAST(sum(s) AS BIGINT) AS s
           FROM l1 GROUP BY 1),
    e2 AS (SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                  CAST(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                       AS BIGINT),
                  CAST(CAST(sum(CAST(d AS HUGEINT) * d) * 2 AS DOUBLE)
                       AS BIGINT)
           FROM l2),
    l3 AS (SELECT p // 2 AS p,
                  CAST(sum(CASE WHEN p % 2 = 0 THEN s ELSE -s END)
                       AS BIGINT) AS d,
                  CAST(sum(s) AS BIGINT) AS s
           FROM l2 GROUP BY 1),
    e3 AS (SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
                  CAST(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                       AS BIGINT),
                  CAST(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                       AS BIGINT)
           FROM l3),
    e0 AS (SELECT CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
                  CAST(CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE)
                       AS BIGINT),
                  CAST(CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE)
                       AS BIGINT)
           FROM l3),
    lv AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
           UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e0),
    chk AS (SELECT CAST(sum(energy_scaled) AS BIGINT) AS rhs FROM lv),
    summ AS (SELECT tot.n_used,
                    CAST(CAST(tot.sx2 AS DOUBLE) AS BIGINT) AS sum_x2,
                    CAST(CAST(tot.sx2 * 8 AS DOUBLE) AS BIGINT) - chk.rhs
                      AS parseval_diff
             FROM tot CROSS JOIN chk)
    SELECT lv.level, lv.n_coeffs, lv.energy, lv.energy_scaled,
           summ.n_used, summ.sum_x2, summ.parseval_diff
    FROM lv CROSS JOIN summ
    """,
)
def qc93(spark, sf):
    """Three-level Haar wavelet energy decomposition of daily volume
    (operators/temporal.py:haar_energy) — multi-scale variation next
    to qc65's periodogram; pair-index groupBys (no windows), integer
    energies, and the EXACT Parseval witness 8·Σx² = Σ 2^(L−l)·E_l +
    E_smooth emitted as parseval_diff = 0."""
    from .operators.temporal import haar_energy

    days = (
        _t(spark, sf, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("_day")
        )
        .groupBy("_day")
        .agg(F.count("*").cast("long").alias("x"))
    )
    ext = days.agg(F.min("_day").alias("_lo"), F.max("_day").alias("_hi"))
    spine = ext.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("t")
    )
    dense = spine.join(days, spine["t"] == days["_day"], "left").select(
        "t", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    return haar_energy(dense, "t", "x", 3)


# ---------------------------------------------------------------------------
# round-4 wave 82: clustered ratio CI + positivity audit
# ---------------------------------------------------------------------------


@_q(
    "qc94_delta_ratio_ci",
    """
    WITH per AS (SELECT user_id,
                        CAST(sum(CAST(round(value * 100) AS BIGINT))
                             AS BIGINT) AS xu,
                        CAST(count(*) AS BIGINT) AS yu
                 FROM events GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xu) AS BIGINT) AS sx,
                   CAST(sum(yu) AS BIGINT) AS sy FROM per),
    res AS (SELECT sum((CAST(xu AS HUGEINT) * sy
                        - CAST(sx AS HUGEINT) * yu)
                       * (CAST(xu AS HUGEINT) * sy
                          - CAST(sx AS HUGEINT) * yu)) AS s2
            FROM per CROSS JOIN tot),
    o AS (SELECT n, sx, sy,
                 CAST(round(sx * 1000000 / sy) AS BIGINT) AS ratio_micro,
                 CAST(round(sqrt(CAST(s2 AS DOUBLE) * n / (n - 1))
                            * 1000000
                            / (CAST(sy AS DOUBLE) * sy)) AS BIGINT)
                   AS se_micro
          FROM tot CROSS JOIN res)
    SELECT n AS n_clusters, sx AS sum_x, sy AS sum_y, ratio_micro,
           se_micro,
           CAST(ratio_micro - CAST(round(se_micro * 1960 / 1000)
                                   AS BIGINT) AS BIGINT) AS ci_lo_micro,
           CAST(ratio_micro + CAST(round(se_micro * 1960 / 1000)
                                   AS BIGINT) AS BIGINT) AS ci_hi_micro
    FROM o
    """,
)
def qc94(spark, sf):
    """Delta-method CI for the cents-per-event ratio with users as
    clusters (operators/stats.py:delta_method_ratio_ci) — the Deng et
    al. linearization every ratio A/B metric needs; cluster residuals
    e·Σy = x·Σy − Σx·y stay integer, decimal38 squared sums, one
    mirrored sqrt chain, 1.96 = 1960/1000."""
    from .operators.stats import delta_method_ratio_ci

    e = _t(spark, sf, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("_x"),
        F.lit(1).alias("_y"),
    )
    return delta_method_ratio_ci(e, "user_id", "_x", "_y")


@_q(
    "qc95_positivity_overlap",
    """
    WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS s
                FROM events GROUP BY 1),
    au AS (SELECT user_id, s,
                  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                      1, 15) AS BIGINT) % 2 = 0 AS arm
           FROM pu),
    ext AS (SELECT min(s) AS mn, max(s) AS mx FROM au),
    binned AS (SELECT arm,
                      CAST(floor((s - mn) * 10 / (mx - mn + 1))
                           AS BIGINT) AS b
               FROM au CROSS JOIN ext),
    cells AS (SELECT b,
                     CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END)
                          AS BIGINT) AS cb
              FROM binned GROUP BY 1),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb FROM cells),
    ag AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_occupied,
                  CAST(max(na) AS BIGINT) AS n_a,
                  CAST(max(nb) AS BIGINT) AS n_b,
                  CAST(sum(CASE WHEN ca * nb <= cb * na THEN ca
                           ELSE 0 END) AS BIGINT) AS p_num,
                  CAST(sum(CASE WHEN ca * nb > cb * na THEN cb
                           ELSE 0 END) AS BIGINT) AS q_num,
                  CAST(sum(CASE WHEN ca = 0 OR cb = 0 THEN 1
                           ELSE 0 END) AS BIGINT) AS n_violation_bins
           FROM cells CROSS JOIN tot)
    SELECT n_bins_occupied, n_a, n_b, p_num, q_num,
           CAST(round(CAST(p_num AS DOUBLE) * 1000000 / n_a
                      + CAST(q_num AS DOUBLE) * 1000000 / n_b)
                AS BIGINT) AS overlap_micro,
           n_violation_bins
    FROM ag
    """,
)
def qc95(spark, sf):
    """Positivity / common-support overlap between md5-split arms on
    the per-user activity score (operators/stats.py:
    positivity_overlap) — the precondition audit for the causal
    family; per-bin min fraction chosen by exact cross-multiplication,
    one mirrored two-term chain for the coefficient."""
    from .operators.stats import positivity_overlap

    pu = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("s"))
    )
    au = pu.select(
        "user_id",
        "s",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        ).alias("arm"),
    )
    return positivity_overlap(au, "user_id", "arm", "s", 10)


# ---------------------------------------------------------------------------
# round-4 wave 83: embedding anomalies + modal-prediction dependence
# ---------------------------------------------------------------------------


@_q(
    "qc96_mahalanobis_outliers",
    """
    WITH ex AS (SELECT id, j,
                       CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                         AS xm
                FROM (SELECT vec_id AS id, unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) AS j
                      FROM embeddings)),
    dims AS (SELECT j, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(xm) AS BIGINT) AS s,
                    sum(CAST(xm AS HUGEINT) * xm) AS q
             FROM ex GROUP BY 1),
    terms AS (SELECT ex.id,
                     CASE WHEN CAST(d.n * d.q
                                    - CAST(d.s AS HUGEINT) * d.s
                                    AS DOUBLE) > 0 THEN
                       CAST(round(CAST(d.n * ex.xm - d.s AS DOUBLE)
                                  * CAST(d.n * ex.xm - d.s AS DOUBLE)
                                  * 1000000
                                  / CAST(d.n * d.q
                                         - CAST(d.s AS HUGEINT) * d.s
                                         AS DOUBLE)) AS BIGINT)
                     ELSE 0 END AS t
              FROM ex JOIN dims d ON d.j = ex.j),
    per AS (SELECT id, CAST(sum(t) AS BIGINT) AS m2_micro,
                   CAST(count(*) AS BIGINT) AS n_dims
            FROM terms GROUP BY 1)
    SELECT id AS vec_id, m2_micro, n_dims
    FROM per ORDER BY m2_micro DESC, id LIMIT 10
    """,
)
def qc96(spark, sf):
    """Top-10 embedding outliers by diagonal Mahalanobis distance
    (operators/similarity.py:mahalanobis_outliers) — per-dim
    standardization via the integer identity (n·x−S)²/(nQ−S²), each
    term micro-rounded once then integer-summed; TakeOrdered."""
    from .operators.similarity import mahalanobis_outliers

    return mahalanobis_outliers(
        _t(spark, sf, "embeddings"), "embedding", "vec_id", 10
    )


_QC97_PAIRS = [("hour", "event_type"), ("event_type", "hour")]


def _qc97_oracle() -> str:
    blocks, sels = [], []
    for i, (a, b) in enumerate(_QC97_PAIRS, 1):
        blocks.append(f"""
    c{i} AS (SELECT {a} AS a, {b} AS b, CAST(count(*) AS BIGINT) AS c
             FROM ebase GROUP BY 1, 2),
    pa{i} AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_modal FROM
              (SELECT a, max(c) AS mx FROM c{i} GROUP BY 1)),
    mg{i} AS (SELECT CAST(max(cb) AS BIGINT) AS margin_mode,
                     CAST(sum(cb) AS BIGINT) AS n_rows FROM
              (SELECT b, CAST(sum(c) AS BIGINT) AS cb
               FROM c{i} GROUP BY 1))""")
        sels.append(f"""
    SELECT '{a}' AS lhs, '{b}' AS rhs, n_rows, sum_modal, margin_mode,
           CASE WHEN n_rows > margin_mode THEN
             CAST(round((sum_modal - margin_mode) * 1000000
                        / (n_rows - margin_mode)) AS BIGINT) END
             AS lambda_micro
    FROM pa{i} CROSS JOIN mg{i}""")
    head = """WITH ebase AS (SELECT (epoch_us(ts) // 3600000000) % 24
                         AS hour, event_type
                  FROM events),"""
    return head + ",".join(blocks) + "\n    UNION ALL".join(sels)


@_q("qc97_gk_lambda", None)
def qc97(spark, sf):
    """Goodman–Kruskal lambda both directions for the hour/event-type
    pair (operators/dq.py:gk_lambda) — modal-prediction PRE measure
    completing the g3/uncertainty dependence trio; pure int64 with
    one micro division."""
    from .operators.dq import gk_lambda

    e = _t(spark, sf, "events").select(
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 3600000000) % 24"
        ).alias("hour"),
        "event_type",
    )
    return gk_lambda(e, _QC97_PAIRS)


ORACLES["qc97_gk_lambda"] = _qc97_oracle()


# ---------------------------------------------------------------------------
# round-4 wave 84 — the 400 milestone: kernel two-sample, sequential
# monitoring, energy distance
# ---------------------------------------------------------------------------


@_q(
    "qc98_mmd_quadratic",
    """
    WITH e AS (SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) AS wk,
                      CAST(round(value) AS BIGINT) AS v
               FROM events),
    per AS (SELECT (wk = 0 OR wk = 6) AS b,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v) AS BIGINT) AS s,
                   sum(CAST(v AS HUGEINT) * v) AS q
            FROM e GROUP BY 1),
    a AS (SELECT n AS n_a, s AS sa, q AS qa FROM per WHERE NOT b),
    bb AS (SELECT n AS n_b, s AS sb, q AS qb FROM per WHERE b),
    j AS (SELECT * FROM a CROSS JOIN bb),
    k AS (SELECT n_a, n_b,
                 CAST(round((CAST(qa AS DOUBLE) * CAST(qa AS DOUBLE)
                             / (CAST(100000000 AS DOUBLE) * CAST(100000000 AS DOUBLE))
                             + CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
                               * 2 / CAST(100000000 AS DOUBLE)
                             + CAST(n_a AS DOUBLE) * n_a) * 1000000
                            / (CAST(n_a AS DOUBLE) * n_a)) AS BIGINT)
                   AS kaa_micro,
                 CAST(round((CAST(qb AS DOUBLE) * CAST(qb AS DOUBLE)
                             / (CAST(100000000 AS DOUBLE) * CAST(100000000 AS DOUBLE))
                             + CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                               * 2 / CAST(100000000 AS DOUBLE)
                             + CAST(n_b AS DOUBLE) * n_b) * 1000000
                            / (CAST(n_b AS DOUBLE) * n_b)) AS BIGINT)
                   AS kbb_micro,
                 CAST(round((CAST(qa AS DOUBLE) * CAST(qb AS DOUBLE)
                             / (CAST(100000000 AS DOUBLE) * CAST(100000000 AS DOUBLE))
                             + CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
                               * 2 / CAST(100000000 AS DOUBLE)
                             + CAST(n_a AS DOUBLE) * n_b) * 1000000
                            / (CAST(n_a AS DOUBLE) * n_b)) AS BIGINT)
                   AS kab_micro
          FROM j)
    SELECT n_a, n_b, kaa_micro, kbb_micro, kab_micro,
           CAST(kaa_micro + kbb_micro - 2 * kab_micro AS BIGINT)
             AS mmd2_micro
    FROM k
    """,
)
def qc98(spark, sf):
    """Quadratic-kernel MMD² between weekend and weekday values
    (operators/stats.py:mmd_quadratic) — the kernel two-sample test
    in moment-product form: NO pairwise pass exists, three mirrored
    kernel means micro-rounded once each, integer combination."""
    from .operators.stats import mmd_quadratic

    e = _t(spark, sf, "events").select(
        F.expr(
            "((unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7)"
        ).alias("_wk"),
        F.round(F.col("value")).cast("long").alias("_v"),
    )
    base = e.select(
        ((F.col("_wk") == 0) | (F.col("_wk") == 6)).alias("_we"), "_v"
    )
    return mmd_quadratic(base, "_we", "_v", 100_000_000)


@_q(
    "qc99_obf_looks",
    """
    WITH e AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                          1, 15) AS BIGINT) % 2 = 0
                        AS arm,
                      epoch_us(ts) // 86400000000 AS t,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    ext AS (SELECT min(t) AS lo, max(t) AS hi FROM e),
    lk AS (SELECT arm, v,
                  least(5, CAST(floor((t - lo) * 5 / (hi - lo + 1))
                                AS BIGINT) + 1) AS l
           FROM e CROSS JOIN ext),
    cells AS (SELECT arm, l, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(v) AS BIGINT) AS s,
                     sum(CAST(v AS HUGEINT) * v) AS q
              FROM lk GROUP BY 1, 2),
    kdf(look, bound_milli) AS (VALUES (1, 4877), (2, 3357), (3, 2680),
                                      (4, 2290), (5, 2031)),
    cum AS (SELECT kdf.look, kdf.bound_milli, cells.arm,
                   CAST(sum(cells.n) AS BIGINT) AS n,
                   CAST(sum(cells.s) AS BIGINT) AS s,
                   sum(cells.q) AS q
            FROM cells JOIN kdf ON cells.l <= kdf.look
            GROUP BY 1, 2, 3),
    a AS (SELECT look, bound_milli, n AS n_a, s AS sa, q AS qa
          FROM cum WHERE NOT arm),
    b AS (SELECT look AS lk2, n AS n_b, s AS sb, q AS qb
          FROM cum WHERE arm),
    j AS (SELECT * FROM a JOIN b ON b.lk2 = a.look),
    z AS (SELECT look, bound_milli, n_a, n_b,
                 CAST(round((CAST(sa AS DOUBLE) / n_a
                             - CAST(sb AS DOUBLE) / n_b)
                            / sqrt(CAST((n_a + n_b) * (qa + qb)
                                        - (CAST(sa AS HUGEINT) + sb)
                                          * (CAST(sa AS HUGEINT) + sb)
                                        AS DOUBLE)
                                   / (CAST(n_a + n_b AS DOUBLE)
                                      * (n_a + n_b))
                                   * (1.0 / n_a + 1.0 / n_b)) * 1000)
                      AS BIGINT) AS z_milli
          FROM j)
    SELECT CAST(look AS BIGINT) AS look, n_a, n_b, z_milli,
           CAST(bound_milli AS BIGINT) AS bound_milli,
           abs(z_milli) > bound_milli AS crossed
    FROM z
    """,
)
def qc99(spark, sf):
    """O'Brien–Fleming 5-look group-sequential monitor of the
    md5-split value metric (operators/stats.py:obrien_fleming_looks)
    — published OBF z-boundaries injected as milli constants, looks
    as equal window fifths, cumulative moments via a K² dimension
    join, one mirrored z chain per look."""
    from .operators.stats import obrien_fleming_looks

    e = _t(spark, sf, "events").select(
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        ).alias("arm"),
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 86400000000"
        ).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return obrien_fleming_looks(e, "arm", "t", "v", 5)


@_q(
    "qd00_energy_distance",
    """
    WITH e AS (SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) AS wk,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    hist AS (SELECT v,
                    CAST(sum(CASE WHEN wk = 0 OR wk = 6 THEN 0 ELSE 1
                             END) AS BIGINT) AS ca,
                    CAST(sum(CASE WHEN wk = 0 OR wk = 6 THEN 1 ELSE 0
                             END) AS BIGINT) AS cb
             FROM e GROUP BY 1),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                   CAST(sum(cb) AS BIGINT) AS nb FROM hist),
    cum AS (SELECT v,
                   sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                     AS cma,
                   sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                     AS cmb,
                   lead(v) OVER (ORDER BY v) - v AS gap
            FROM hist),
    c2 AS (SELECT * FROM cum WHERE gap IS NOT NULL),
    sums AS (SELECT sum(CAST(gap AS HUGEINT)
                        * (CAST(cma AS HUGEINT) * (tot.nb - cmb)
                           + CAST(cmb AS HUGEINT) * (tot.na - cma)))
                      AS sxy,
                    sum(CAST(gap AS HUGEINT) * CAST(cma AS HUGEINT)
                        * (tot.na - cma)) AS sxx,
                    sum(CAST(gap AS HUGEINT) * CAST(cmb AS HUGEINT)
                        * (tot.nb - cmb)) AS syy
             FROM c2 CROSS JOIN tot),
    f AS (SELECT tot.na, tot.nb,
                 CAST(round(CAST(sxy AS DOUBLE) * 1000
                            / (CAST(na AS DOUBLE) * nb)) AS BIGINT)
                   AS exy,
                 CAST(round(CAST(sxx AS DOUBLE) * 2000
                            / (CAST(na AS DOUBLE) * na)) AS BIGINT)
                   AS exx,
                 CAST(round(CAST(syy AS DOUBLE) * 2000
                            / (CAST(nb AS DOUBLE) * nb)) AS BIGINT)
                   AS eyy
          FROM tot CROSS JOIN sums)
    SELECT na AS n_a, nb AS n_b, exy AS exy_milli, exx AS exx_milli,
           eyy AS eyy_milli,
           CAST(2 * exy - exx - eyy AS BIGINT) AS energy_milli,
           CAST(round((2 * exy - exx - eyy)
                      * (CAST(na AS DOUBLE) * nb) / (na + nb))
                AS BIGINT) AS t_stat_milli
    FROM f
    """,
)
def qd00(spark, sf):
    """Székely energy distance between weekend and weekday values
    (operators/stats.py:energy_distance) — the 400th contract query,
    completing the two-sample family; all pairwise |difference| sums
    collapse onto the combined value spine via the gap identity
    (decimal38 rank products), three milli-rounded E terms, integer
    combination and one n-scaled statistic."""
    from .operators.stats import energy_distance

    e = _t(spark, sf, "events").select(
        F.expr(
            "((unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7)"
        ).alias("_wk"),
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    base = e.select(
        ((F.col("_wk") == 0) | (F.col("_wk") == 6)).alias("_we"), "_v"
    )
    return energy_distance(base, "_we", "_v")


# ---------------------------------------------------------------------------
# round-4 wave 85: parameter-tuning sweeps
# ---------------------------------------------------------------------------


def _qd01_oracle(gaps=(300, 900, 1800, 3600, 7200)) -> str:
    conds = ",\n".join(
        f"""             CAST(sum(CASE WHEN gap > {g * 1_000_000} THEN 1
                          ELSE 0 END) AS BIGINT) AS c{g},
             CAST(sum(CASE WHEN gap > {g * 1_000_000} THEN gap
                          ELSE 0 END) AS BIGINT) AS s{g}"""
        for g in gaps
    )
    cc = " ".join(f"WHEN {g} THEN c{g}" for g in gaps)
    sc = " ".join(f"WHEN {g} THEN s{g}" for g in gaps)
    vals = ", ".join(f"({g})" for g in gaps)
    return f"""
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
    lagd AS (SELECT u, us,
                    us - lag(us) OVER (PARTITION BY u ORDER BY us)
                      AS gap
             FROM base),
    pu AS (SELECT u, min(us) AS f, max(us) AS l FROM base GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                   CAST(sum(l - f) AS BIGINT) AS span FROM pu),
    g AS (SELECT
{conds}
          FROM lagd WHERE gap IS NOT NULL),
    rows_ AS (SELECT th.t AS threshold_s,
                     tot.nu + (CASE th.t {cc} END) AS n_sessions,
                     tot.span - (CASE th.t {sc} END) AS sum_dur_us,
                     tot.nu
              FROM tot CROSS JOIN g
              CROSS JOIN (VALUES {vals}) th(t))
    SELECT CAST(threshold_s AS BIGINT) AS threshold_s,
           CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(sum_dur_us AS BIGINT) AS sum_dur_us,
           CAST(round(CAST(sum_dur_us AS DOUBLE) / n_sessions)
                AS BIGINT) AS mean_dur_us,
           CAST(round(n_sessions * 1000 / nu) AS BIGINT)
             AS sessions_per_user_milli
    FROM rows_
    """


@_q("qd01_session_gap_sweep", None)
def qd01(spark, sf):
    """Sessionization-threshold sensitivity sweep
    (operators/temporal.py:session_gap_sweep) — session counts and
    covered time at five candidate cutoffs from two exact identities
    over the inter-event gap multiset, WITHOUT sessionizing once."""
    from .operators.temporal import session_gap_sweep

    return session_gap_sweep(_t(spark, sf, "events"))


ORACLES["qd01_session_gap_sweep"] = _qd01_oracle()


@_q("qd02_dedup_threshold_sweep", None)
def qd02(spark, sf):
    """Near-dup threshold sweep over q27's exact-Jaccard pairs
    (operators/dedup.py:dedup_threshold_sweep) — pair and affected-
    doc counts per cutoff via integer cross-multiplication; the
    oracle wraps q27's SQL verbatim (qb97 idiom)."""
    from .operators.dedup import dedup_threshold_sweep

    return dedup_threshold_sweep(QUERIES["q27_ngram_jaccard"](spark, sf))


ORACLES["qd02_dedup_threshold_sweep"] = f"""
    WITH q27 AS ({ORACLES["q27_ngram_jaccard"]}),
    grid(t_milli) AS (VALUES (100), (200), (300), (400), (500), (600),
                             (700), (800)),
    pj AS (SELECT q27.*, grid.t_milli
           FROM q27 CROSS JOIN grid
           WHERE 1000 * n_common
                 >= t_milli * (n_a + n_b - n_common)),
    np AS (SELECT t_milli, CAST(count(*) AS BIGINT) AS n_pairs
           FROM pj GROUP BY 1),
    docs AS (SELECT t_milli, id_a AS id FROM pj
             UNION ALL SELECT t_milli, id_b FROM pj),
    nd AS (SELECT t_milli, CAST(count(DISTINCT id) AS BIGINT)
                    AS n_docs_affected
           FROM docs GROUP BY 1)
    SELECT CAST(np.t_milli AS BIGINT) AS t_milli, np.n_pairs,
           nd.n_docs_affected
    FROM np JOIN nd ON nd.t_milli = np.t_milli
"""


# ---------------------------------------------------------------------------
# round-4 wave 86: charset hygiene + basket triples
# ---------------------------------------------------------------------------


@_q(
    "qd03_charclass_profile",
    r"""
    WITH pre AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_total,
             CAST(length(text) - length(regexp_replace(text,
                  '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(length(text) - length(regexp_replace(text,
                  '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
             CAST(length(text) - length(regexp_replace(text,
                  '\s', '', 'g')) AS BIGINT) AS n_space,
             CAST(length(text) - length(regexp_replace(text,
                  '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents),
    p2 AS (SELECT *, n_chars_total - n_alpha - n_digit - n_space
                     - n_punct AS n_other
           FROM pre)
    SELECT doc_id, n_chars_total, n_alpha, n_digit, n_space, n_punct,
           n_other,
           CASE WHEN n_chars_total > 0 THEN
             CAST(round(n_other * 1000000 / n_chars_total) AS BIGINT)
           END AS other_frac_micro,
           CASE WHEN n_alpha >= n_digit AND n_alpha >= n_space
                     AND n_alpha >= n_punct AND n_alpha >= n_other
                THEN 'alpha'
                WHEN n_digit >= n_space AND n_digit >= n_punct
                     AND n_digit >= n_other THEN 'digit'
                WHEN n_space >= n_punct AND n_space >= n_other
                THEN 'space'
                WHEN n_punct >= n_other THEN 'punct'
                ELSE 'other' END AS dominant_class
    FROM p2
    """,
)
def qd03(spark, sf):
    """Character-class composition per document
    (operators/textstats.py:charclass_profile) — encoding-junk
    pre-filter; ASCII-range regexes only so Java regex and RE2 agree
    by construction, strip-and-measure counts, fixed-order dominant
    class."""
    from .operators.textstats import charclass_profile

    return charclass_profile(_t(spark, sf, "documents"))


@_q(
    "qd04_apriori_triples",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                FROM lineitem),
    f1 AS (SELECT i FROM (SELECT i, count(*) AS c FROM bi GROUP BY 1)
           WHERE c >= 2),
    bif AS (SELECT bi.b, bi.i FROM bi JOIN f1 USING (i)),
    p AS (SELECT a, bb FROM (
            SELECT x.i AS a, y.i AS bb, count(*) AS c
            FROM bif x JOIN bif y ON x.b = y.b AND x.i < y.i
            GROUP BY 1, 2) WHERE c >= 2),
    cand AS (SELECT p1.a AS ia, p1.bb AS ib, p2.bb AS ic
             FROM p p1 JOIN p p2 ON p1.a = p2.a AND p1.bb < p2.bb
             WHERE EXISTS (SELECT 1 FROM p p3
                           WHERE p3.a = p1.bb AND p3.bb = p2.bb)),
    sup AS (SELECT c.ia, c.ib, c.ic, CAST(count(*) AS BIGINT)
                     AS support
            FROM cand c
            JOIN bif t1 ON t1.i = c.ia
            JOIN bif t2 ON t2.b = t1.b AND t2.i = c.ib
            JOIN bif t3 ON t3.b = t1.b AND t3.i = c.ic
            GROUP BY 1, 2, 3 HAVING count(*) >= 2)
    SELECT ia AS item_a, ib AS item_b, ic AS item_c, support
    FROM sup ORDER BY support DESC, ia, ib, ic LIMIT 20
    """,
)
def qd04(spark, sf):
    """A-priori frequent part TRIPLES over order baskets
    (operators/dedup.py:apriori_triples) — level-wise anti-monotone
    prune (all three sub-pairs must be frequent) before the
    three-way basket join; exact distinct counting, TakeOrdered
    top-20."""
    from .operators.dedup import apriori_triples

    li = _t(spark, sf, "lineitem")
    return apriori_triples(li, "l_orderkey", "l_partkey", 2, 20)


# ---------------------------------------------------------------------------
# round-4 wave 87: per-unit trends + retrieval hubness
# ---------------------------------------------------------------------------


@_q(
    "qd05_user_slopes",
    """
    WITH e AS (SELECT user_id AS u, epoch_us(ts) // 3600000000 AS t,
                      CAST(round(value * 100) AS BIGINT) AS y
               FROM events),
    per AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(t) AS BIGINT) AS st,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(t * y) AS BIGINT) AS sty,
                   CAST(sum(t * t) AS BIGINT) AS stt
            FROM e GROUP BY 1),
    slopes AS (SELECT CAST(round((CAST(n AS DOUBLE) * sty
                                  - CAST(st AS DOUBLE) * sy) * 1000
                                 / (n * stt - st * st)) AS BIGINT) AS s
               FROM per WHERE n >= 5 AND n * stt - st * st <> 0),
    hist AS (SELECT s, CAST(count(*) AS BIGINT) AS c
             FROM slopes GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS nt,
                   CAST(sum(s * c) AS BIGINT) AS ssum,
                   CAST(sum(CASE WHEN s > 0 THEN c ELSE 0 END)
                        AS BIGINT) AS npos FROM hist),
    cum AS (SELECT s, sum(c) OVER (ORDER BY s
                    ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
    q25 AS (SELECT CAST(min(s) AS BIGINT) AS p25_milli
            FROM cum CROSS JOIN tot
            WHERE cm >= (2500 * nt + 9999) // 10000),
    q50 AS (SELECT CAST(min(s) AS BIGINT) AS p50_milli
            FROM cum CROSS JOIN tot
            WHERE cm >= (5000 * nt + 9999) // 10000),
    q75 AS (SELECT CAST(min(s) AS BIGINT) AS p75_milli
            FROM cum CROSS JOIN tot
            WHERE cm >= (7500 * nt + 9999) // 10000)
    SELECT tot.nt AS n_units_fit,
           CAST(round(CAST(ssum AS DOUBLE) / nt) AS BIGINT)
             AS mean_slope_milli,
           p25_milli, p50_milli, p75_milli,
           CAST(round(npos * 1000000 / nt) AS BIGINT)
             AS frac_positive_micro
    FROM tot CROSS JOIN q25 CROSS JOIN q50 CROSS JOIN q75
    """,
)
def qd05(spark, sf):
    """Distribution of per-user spend-trend slopes
    (operators/stats.py:user_slope_distribution) — per-unit OLS
    slopes milli-rounded once each (per-cell rule), exact type-1
    quartiles over the slope histogram, positive-trend fraction."""
    from .operators.stats import user_slope_distribution

    e = _t(spark, sf, "events").select(
        "user_id",
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    return user_slope_distribution(e, "user_id", "t", "y", 5)


@_q(
    "qd06_hubness_audit",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings),
    scored AS (SELECT q.qid, e.vec_id AS tid,
                      CAST(round(list_cosine_similarity(
                             e.embedding::DOUBLE[], q.qv) * 1e6)
                           AS BIGINT) AS cos
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.qid),
    topk AS (SELECT tid FROM (
               SELECT qid, tid,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, tid) AS r
               FROM scored)
             WHERE r <= 10),
    nk AS (SELECT e.vec_id, CAST(coalesce(t.c, 0) AS BIGINT) AS c
           FROM embeddings e
           LEFT JOIN (SELECT tid, count(*) AS c FROM topk GROUP BY 1) t
                  ON t.tid = e.vec_id),
    ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(c) AS BIGINT) AS s1,
                  CAST(sum(c * c) AS BIGINT) AS s2,
                  sum(CAST(c AS HUGEINT) * c * c) AS s3,
                  CAST(max(c) AS BIGINT) AS max_nk,
                  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS nz
           FROM nk)
    SELECT n AS n_vecs, CAST(10 AS BIGINT) AS k, max_nk,
           CAST(round(nz * 1000000 / n) AS BIGINT) AS antihub_micro,
           CASE WHEN n * s2 - s1 * s1 > 0 THEN
             CAST(round(CAST(CAST(n AS HUGEINT) * n * s3
                             - 3 * CAST(n AS HUGEINT) * s1 * s2
                             + 2 * CAST(s1 AS HUGEINT) * s1 * s1
                             AS DOUBLE) * 1000
                        / (CAST(n * s2 - s1 * s1 AS DOUBLE)
                           * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))))
                  AS BIGINT) END AS skew_milli
    FROM ag
    """,
)
def qd06(spark, sf):
    """kNN hubness audit of the embedding corpus
    (operators/similarity.py:hubness_audit) — skewness of the
    k-occurrence distribution via the n-cancelling identity A/B^1.5
    (decimal38 integer moments, IEEE sqrt), antihub rate with
    never-retrieved points as exact zeros."""
    from .operators.similarity import hubness_audit

    return hubness_audit(_t(spark, sf, "embeddings"), "embedding", "vec_id", 10)


# ---------------------------------------------------------------------------
# round-4 wave 88: behavioral anomaly screens
# ---------------------------------------------------------------------------


@_q(
    "qd07_behavior_surprise",
    """
    WITH pairs AS (
      SELECT user_id AS u, event_type AS t_to,
             lag(event_type) OVER w AS t_from
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p2 AS (SELECT u, t_from, t_to FROM pairs WHERE t_from IS NOT NULL),
    cells AS (SELECT t_from, t_to, CAST(count(*) AS BIGINT) AS c
              FROM p2 GROUP BY 1, 2),
    marg AS (SELECT t_from, CAST(sum(c) AS BIGINT) AS ci
             FROM cells GROUP BY 1),
    nll AS (SELECT cells.t_from, cells.t_to,
                   CAST(round(ln(CAST(marg.ci AS DOUBLE)) * 1e6)
                        AS BIGINT)
                   - CAST(round(ln(CAST(cells.c AS DOUBLE)) * 1e6)
                          AS BIGINT) AS v
            FROM cells JOIN marg ON marg.t_from = cells.t_from),
    per AS (SELECT p2.u, CAST(count(*) AS BIGINT) AS n_transitions,
                   CAST(sum(nll.v) AS BIGINT) AS nll_micro_sum
            FROM p2 JOIN nll ON nll.t_from = p2.t_from
                            AND nll.t_to = p2.t_to
            GROUP BY 1 HAVING count(*) >= 10)
    SELECT u AS user_id, n_transitions, nll_micro_sum,
           CAST(round(CAST(nll_micro_sum AS DOUBLE) / n_transitions)
                AS BIGINT) AS avg_nll_micro
    FROM per ORDER BY avg_nll_micro DESC, u LIMIT 20
    """,
)
def qd07(spark, sf):
    """Top-20 users by transition-sequence surprise under the corpus
    transition matrix (operators/temporal.py:behavior_surprise) —
    bot/automation screen; per-cell integer nll = ln_micro(c_i) −
    ln_micro(c_ij), integer per-user sums, TakeOrdered."""
    from .operators.temporal import behavior_surprise

    return behavior_surprise(_t(spark, sf, "events"))


@_q(
    "qd08_user_mix_divergence",
    """
    WITH cu AS (SELECT user_id AS u, event_type AS t,
                       CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
    nu AS (SELECT u, CAST(sum(c) AS BIGINT) AS n FROM cu GROUP BY 1),
    ct AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS ctt
           FROM events GROUP BY 1),
    nn AS (SELECT CAST(sum(ctt) AS BIGINT) AS nnn FROM ct),
    grid AS (SELECT nu.u, nu.n, ct.t, ct.ctt, nn.nnn,
                    CAST(coalesce(cu.c, 0) AS BIGINT) AS c
             FROM nu CROSS JOIN ct CROSS JOIN nn
             LEFT JOIN cu ON cu.u = nu.u AND cu.t = ct.t),
    terms AS (SELECT u, n, nnn,
                     CASE WHEN c > 0 THEN
                       c * (CAST(round(ln(CAST(2 * c * nnn AS DOUBLE))
                                       * 1e6) AS BIGINT)
                            - CAST(round(ln(CAST(c * nnn + ctt * n
                                               AS DOUBLE)) * 1e6)
                                   AS BIGINT))
                     ELSE 0 END AS pterm,
                     ctt * (CAST(round(ln(CAST(2 * ctt * n AS DOUBLE))
                                       * 1e6) AS BIGINT)
                            - CAST(round(ln(CAST(c * nnn + ctt * n
                                               AS DOUBLE)) * 1e6)
                                   AS BIGINT)) AS qterm
              FROM grid),
    per AS (SELECT u, CAST(max(n) AS BIGINT) AS n_events,
                   CAST(sum(pterm) AS BIGINT) AS a,
                   CAST(sum(qterm) AS BIGINT) AS b,
                   CAST(max(nnn) AS BIGINT) AS nnn
            FROM terms GROUP BY 1 HAVING max(n) >= 20)
    SELECT u AS user_id, n_events,
           CAST(round(CAST(a AS DOUBLE) / (2.0 * n_events)
                      + CAST(b AS DOUBLE) / (2.0 * nnn)) AS BIGINT)
             AS jsd_micro
    FROM per ORDER BY jsd_micro DESC, u LIMIT 20
    """,
)
def qd08(spark, sf):
    """Top-20 users by Jensen-Shannon divergence of their event-type
    mix vs the population (operators/temporal.py:user_mix_divergence)
    — mix-shift anomaly screen on the dense user × category grid;
    both KL legs reduce to ln_micro of integer products, one mirrored
    two-term chain per user."""
    from .operators.temporal import user_mix_divergence

    return user_mix_divergence(_t(spark, sf, "events"))


# ---------------------------------------------------------------------------
# round-4 wave 89: shuffle-key planning + financial reconciliation
# ---------------------------------------------------------------------------

_QD09_KEYS = ["user_id", "event_type", "day", "hour"]


def _qd09_oracle() -> str:
    exprs = {
        "user_id": "user_id",
        "event_type": "event_type",
        "day": "epoch_us(ts) // 86400000000",
        "hour": "epoch_us(ts) // 3600000000",
    }
    blocks, sels = [], []
    for i, name in enumerate(_QD09_KEYS, 1):
        blocks.append(f"""
    s{i} AS (SELECT CAST(count(*) AS BIGINT) AS g
             FROM (SELECT {exprs[name]} AS k FROM events) GROUP BY k),
    h{i} AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM s{i}
             GROUP BY 1),
    t{i} AS (SELECT CAST(sum(g * c) AS BIGINT) AS n_rows,
                    CAST(sum(c) AS BIGINT) AS n_groups,
                    CAST(max(g) AS BIGINT) AS max_size FROM h{i}),
    p{i} AS (SELECT CAST(min(g) AS BIGINT) AS p99_size FROM
             (SELECT g, sum(c) OVER (ORDER BY g
                         ROWS UNBOUNDED PRECEDING) AS cm FROM h{i})
             CROSS JOIN t{i}
             WHERE cm >= (9900 * n_groups + 9999) // 10000)""")
        sels.append(f"""
    SELECT '{name}' AS key_name, n_rows, n_groups, max_size,
           CAST(round(n_rows * 1000 / n_groups) AS BIGINT)
             AS mean_size_milli,
           CAST(round(CAST(max_size AS DOUBLE) * 1000 * n_groups
                      / n_rows) AS BIGINT) AS skew_ratio_milli,
           CAST(round(max_size * 1000000 / n_rows) AS BIGINT)
             AS top_share_micro,
           p99_size
    FROM t{i} CROSS JOIN p{i}""")
    return "WITH" + ",".join(blocks) + "\n    UNION ALL".join(sels)


@_q("qd09_groupkey_skew", None)
def qd09(spark, sf):
    """Grouping-key skew advisor over four candidate shuffle keys
    (operators/dq.py:groupkey_skew_advisor) — pre-hoc key choice:
    max/mean skew ratio, top-group share and exact p99 group size per
    candidate, all from group-size histograms."""
    from .operators.dq import groupkey_skew_advisor

    e = _t(spark, sf, "events")
    return groupkey_skew_advisor(
        e,
        [
            ("user_id", "user_id"),
            ("event_type", "event_type"),
            (
                "day",
                F.expr("unix_micros(cast(ts as timestamp)) div 86400000000"),
            ),
            (
                "hour",
                F.expr("unix_micros(cast(ts as timestamp)) div 3600000000"),
            ),
        ],
    )


ORACLES["qd09_groupkey_skew"] = _qd09_oracle()


@_q(
    "qd10_order_reconciliation",
    """
    WITH li AS (SELECT l_orderkey AS ok,
                       CAST(sum(CAST(round(l_extendedprice * 100)
                                     AS BIGINT)
                                * (100 + CAST(round(l_tax * 100)
                                              AS BIGINT))
                                * (100 - CAST(round(l_discount * 100)
                                              AS BIGINT))) AS BIGINT)
                         AS lsum
                FROM lineitem GROUP BY 1),
    od AS (SELECT o_orderkey AS ok,
                  CAST(round(o_totalprice * 100) AS BIGINT) * 10000
                    AS hsum
           FROM orders),
    j AS (SELECT coalesce(od.ok, li.ok) AS ok, od.hsum, li.lsum,
                 li.lsum - od.hsum AS diff
          FROM od FULL OUTER JOIN li ON li.ok = od.ok)
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN hsum IS NOT NULL AND lsum IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN abs(diff) <= 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_cent,
           CAST(sum(CASE WHEN lsum IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_header_only,
           CAST(sum(CASE WHEN hsum IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lines_only,
           CAST(max(abs(diff)) AS BIGINT) AS max_abs_diff_scaled
    FROM j
    """,
)
def qd10(spark, sf):
    """Order-header vs line-sum financial reconciliation
    (operators/dq.py:order_reconciliation) — exact integer
    double-entry audit: cents x integer percents so the per-order
    difference is an int64 zero when the books balance; full outer
    join surfaces orphans both ways."""
    from .operators.dq import order_reconciliation

    return order_reconciliation(
        _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    )


# ---------------------------------------------------------------------------
# round-4 wave 90: retrieval confidence + welfare inequality
# ---------------------------------------------------------------------------


@_q(
    "qd11_retrieval_confidence",
    """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings),
    scored AS (SELECT q.qid, e.vec_id AS tid,
                      CAST(round(list_cosine_similarity(
                             e.embedding::DOUBLE[], q.qv) * 1e6)
                           AS BIGINT) AS cos
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.qid),
    topk AS (SELECT qid, tid, cos, r FROM (
               SELECT qid, tid, cos,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, tid) AS r
               FROM scored)
             WHERE r <= 10),
    per AS (SELECT qid,
                   CAST(max(CASE WHEN r = 1 THEN cos END) AS BIGINT)
                     AS c1,
                   CAST(max(CASE WHEN r = 2 THEN cos END) AS BIGINT)
                     AS c2,
                   CAST(sum(cos) AS BIGINT) AS sk,
                   CAST(count(*) AS BIGINT) AS nk
            FROM topk GROUP BY 1)
    SELECT qid AS query_id, c1 AS top1_cos_micro,
           CAST(c1 - c2 AS BIGINT) AS gap12_micro,
           CAST(c1 - CAST(round(CAST(sk AS DOUBLE) / nk) AS BIGINT)
                AS BIGINT) AS margin_topk_micro,
           c1 - c2 < 20000 AS ambiguous
    FROM per
    """,
)
def qd11(spark, sf):
    """Per-query retrieval-confidence audit
    (operators/similarity.py:retrieval_confidence) — top-1/top-2 gap
    and top-1 vs mean-of-top-10 margin in cosine micro ints; flags
    ambiguous neighborhoods for reranking before any grading."""
    from .operators.similarity import retrieval_confidence

    return retrieval_confidence(
        _t(spark, sf, "embeddings"), "embedding", "vec_id", 10, 20_000
    )


@_q(
    "qd12_atkinson_index",
    """
    WITH per AS (SELECT user_id,
                        CAST(sum(CAST(round(value * 100) AS BIGINT))
                             AS BIGINT) AS t
                 FROM events GROUP BY 1),
    excl AS (SELECT CAST(sum(CASE WHEN t <= 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_excluded FROM per),
    hist AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM per
             WHERE t > 0 GROUP BY 1),
    ag AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(t * c) AS BIGINT) AS s,
                  CAST(sum(c * CAST(round(ln(CAST(t AS DOUBLE)) * 1e6)
                                    AS BIGINT)) AS BIGINT) AS sl
           FROM hist),
    o AS (SELECT n, n_excluded,
                 CAST(round(CAST(s AS DOUBLE) * 1000 / n) AS BIGINT)
                   AS mean_milli,
                 CAST(round(exp(CAST(sl AS DOUBLE) / (n * 1000000.0))
                            * 1000) AS BIGINT) AS geomean_milli
          FROM ag CROSS JOIN excl)
    SELECT n AS n_units, n_excluded, mean_milli, geomean_milli,
           CAST(round((1.0 - CAST(geomean_milli AS DOUBLE)
                             / mean_milli) * 1000000) AS BIGINT)
             AS atkinson_micro
    FROM o
    """,
)
def qd12(spark, sf):
    """Atkinson inequality index (ε = 1) of per-user spend
    (operators/stats.py:atkinson_index) — 1 − geomean/mean with the
    geometric mean via histogram-weighted ln_micro sums and one
    terminal exp (qa67 idiom); zero-total units excluded and
    counted."""
    from .operators.stats import atkinson_index

    e = _t(spark, sf, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return atkinson_index(e, "user_id", "cents")


# ---------------------------------------------------------------------------
# round-4 wave 91: design-side planners
# ---------------------------------------------------------------------------


def _qd13_oracle() -> str:
    from .operators.sketch import bloom_planner_rows

    rows = ", ".join(
        f"({b}, {k}, CAST({f} AS BIGINT), {'TRUE' if o else 'FALSE'})"
        for b, k, f, o in bloom_planner_rows()
    )
    return f"""
    WITH g(bits_per_key, k_hashes, fpr_micro, is_opt) AS
         (VALUES {rows}),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys
          FROM documents)
    SELECT CAST(bits_per_key AS BIGINT) AS bits_per_key,
           CAST(k_hashes AS BIGINT) AS k_hashes, fpr_micro, is_opt,
           n.n_keys,
           CAST(n.n_keys * bits_per_key AS BIGINT) AS bits_total,
           CAST(round(n.n_keys * bits_per_key * 1000 / 8000000)
                AS BIGINT) AS mb_milli
    FROM g CROSS JOIN n
    """


@_q("qd13_bloom_planner", None)
def qd13(spark, sf):
    """Bloom-filter sizing planner over the document-key corpus
    (operators/sketch.py:bloom_planner) — injected (1−e^(−k/b))^k FPR
    constants (no engine runs exp/pow), exact distinct-key memory
    costs, analytic-optimum flags; design-side companion to qb64's
    measured FPR."""
    from .operators.sketch import bloom_planner

    return bloom_planner(_t(spark, sf, "documents"), "doc_id")


ORACLES["qd13_bloom_planner"] = _qd13_oracle()


@_q(
    "qd14_conformal_curve",
    """
    WITH base AS (
      SELECT CAST(n_chars AS BIGINT) AS s,
             CAST('0x' || substr(md5('conformal'
                                     || CAST(doc_id AS VARCHAR)),
                                 1, 10) AS BIGINT)
             < (500000 * 1099511627776 // 1000000) AS is_cal
      FROM documents),
    hist AS (SELECT s,
                    CAST(sum(CASE WHEN is_cal THEN 1 ELSE 0 END)
                         AS BIGINT) AS nc,
                    CAST(sum(CASE WHEN is_cal THEN 0 ELSE 1 END)
                         AS BIGINT) AS nt
             FROM base GROUP BY 1),
    staged AS (SELECT s, nt,
                      sum(nc) OVER (ORDER BY s
                          ROWS UNBOUNDED PRECEDING) AS cum_cal,
                      sum(nc) OVER () AS n_cal,
                      sum(nt) OVER () AS n_test
               FROM hist),
    grid(alpha_bp) AS (VALUES (2000), (1000), (500), (200)),
    st2 AS (SELECT staged.*, grid.alpha_bp,
                   least(((n_cal + 1) * (10000 - alpha_bp) + 9999)
                         // 10000, n_cal) AS k
            FROM staged CROSS JOIN grid),
    qhat AS (SELECT alpha_bp, CAST(min(s) AS BIGINT) AS q_hat,
                    CAST(max(n_cal) AS BIGINT) AS n_cal,
                    CAST(max(n_test) AS BIGINT) AS n_test,
                    CAST(max(k) AS BIGINT) AS rank_k
             FROM st2 WHERE cum_cal >= k GROUP BY 1),
    cov AS (SELECT q.alpha_bp, CAST(sum(h.nt) AS BIGINT) AS ncov
            FROM hist h JOIN qhat q ON h.s <= q.q_hat
            GROUP BY 1)
    SELECT CAST(q.alpha_bp AS BIGINT) AS alpha_bp,
           CAST((10000 - q.alpha_bp) * 100 AS BIGINT) AS target_micro,
           q.n_cal, q.n_test, q.rank_k, q.q_hat,
           CASE WHEN q.n_test > 0 THEN
             CAST(round(cov.ncov * 1000000 / q.n_test) AS BIGINT)
           END AS coverage_micro
    FROM qhat q JOIN cov ON cov.alpha_bp = q.alpha_bp
    """,
)
def qd14(spark, sf):
    """Split-conformal coverage/threshold tradeoff curve over four
    alpha levels (operators/evaluate.py:conformal_alpha_curve) —
    qb18's machinery with the alpha grid as a broadcast dimension
    sharing one histogram pass; exact clamped ranks, per-alpha
    held-out coverage."""
    from .operators.evaluate import conformal_alpha_curve

    return conformal_alpha_curve(
        _t(spark, sf, "documents"), "n_chars", "doc_id",
        (2000, 1000, 500, 200),
    )


# ---------------------------------------------------------------------------
# round-4 wave 92: nested quantiles + markup hygiene
# ---------------------------------------------------------------------------


@_q(
    "qd15_nested_quantiles",
    """
    WITH base AS (SELECT epoch_us(ts) // 86400000000 AS d,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    hist AS (SELECT d, v, CAST(count(*) AS BIGINT) AS c
             FROM base GROUP BY 1, 2),
    nt AS (SELECT d, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    p95 AS (SELECT h.d, CAST(min(h.v) AS BIGINT) AS p95_value,
                   CAST(max(nt.n) AS BIGINT) AS n
            FROM (SELECT d, v, sum(c) OVER (PARTITION BY d ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cm
                  FROM hist) h
            JOIN nt ON nt.d = h.d
            WHERE h.cm >= (9500 * nt.n + 9999) // 10000
            GROUP BY 1),
    ph AS (SELECT p95_value, CAST(count(*) AS BIGINT) AS dc
           FROM p95 GROUP BY 1),
    dt AS (SELECT CAST(sum(dc) AS BIGINT) AS nd,
                  CAST(min(p95_value) AS BIGINT) AS p95_min,
                  CAST(max(p95_value) AS BIGINT) AS p95_max FROM ph),
    med AS (SELECT CAST(min(p95_value) AS BIGINT) AS median_daily_p95
            FROM (SELECT p95_value, sum(dc) OVER (ORDER BY p95_value
                          ROWS UNBOUNDED PRECEDING) AS cm FROM ph)
            CROSS JOIN dt WHERE cm >= (5000 * nd + 9999) // 10000)
    SELECT p95.d AS day_idx, p95.n, p95.p95_value,
           med.median_daily_p95, dt.p95_min, dt.p95_max
    FROM p95 CROSS JOIN med CROSS JOIN dt
    """,
)
def qd15(spark, sf):
    """Weekly median of exact daily p95s
    (operators/temporal.py:daily_p95_weekly_median) — the nested
    quantile dashboards get wrong by averaging percentiles; both
    levels are exact type-1 histogram ranks (per-day partitioned,
    then a calendar-bounded day-level histogram)."""
    from .operators.temporal import daily_p95_weekly_median

    e = _t(spark, sf, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return daily_p95_weekly_median(e, "ts", "cents")


@_q(
    "qd16_markup_density",
    """
    WITH per AS (
      SELECT source,
             CAST((length(text) - length(replace(text, 'http', '')))
                  / 4 AS BIGINT) AS u,
             CAST(length(text) - length(replace(text, '|', ''))
                  AS BIGINT) AS p,
             CAST(length(text) - length(replace(text, '#', ''))
                  AS BIGINT) AS h,
             CAST(length(text) - length(replace(text, '`', ''))
                  AS BIGINT) AS b
      FROM documents),
    ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(u) AS BIGINT) AS url_markers,
                  CAST(sum(p) AS BIGINT) AS pipes,
                  CAST(sum(h) AS BIGINT) AS hashes,
                  CAST(sum(b) AS BIGINT) AS backticks
           FROM per GROUP BY 1)
    SELECT source, n_docs, url_markers, pipes, hashes, backticks,
           CAST(round(url_markers * 1000 / n_docs) AS BIGINT)
             AS urls_per_doc_milli,
           CAST(round(pipes * 1000 / n_docs) AS BIGINT)
             AS pipes_per_doc_milli,
           CAST(round(pipes * 1000 / n_docs) AS BIGINT) >= 2000
             AS tabular_suspect
    FROM ag
    """,
)
def qd16(spark, sf):
    """Markup / URL marker density per source
    (operators/textstats.py:markup_density) — boilerplate and
    table-dump screen on literal markers only (replace, no regex —
    parity trivial), per-doc rates with one rounded division each."""
    from .operators.textstats import markup_density

    return markup_density(_t(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# round-4 wave 93: similarity-graph health + likelihood-ratio homogeneity
# ---------------------------------------------------------------------------


@_q("qd17_triangle_closure", None)
def qd17(spark, sf):
    """Transitivity audit of q27's similarity pair graph
    (operators/dedup.py:similarity_triangle_gaps) — missing closing
    edges of wedges estimate the candidate generator's recall holes;
    symmetrized wedge join with an a<c total order, semi-join close
    check; oracle wraps q27 verbatim."""
    from .operators.dedup import similarity_triangle_gaps

    return similarity_triangle_gaps(QUERIES["q27_ngram_jaccard"](spark, sf))


ORACLES["qd17_triangle_closure"] = f"""
    WITH q27 AS ({ORACLES["q27_ngram_jaccard"]}),
    e AS (SELECT id_a AS u, id_b AS v FROM q27),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    wedges AS (SELECT x.u AS a, y.v AS b
               FROM und x JOIN und y ON x.v = y.u WHERE x.u < y.v),
    closed AS (SELECT w.a, w.b FROM wedges w
               WHERE EXISTS (SELECT 1 FROM e
                             WHERE e.u = w.a AND e.v = w.b)),
    c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
                 (SELECT CAST(count(*) AS BIGINT) FROM wedges)
                   AS n_wedges,
                 (SELECT CAST(count(*) AS BIGINT) FROM closed)
                   AS n_closed)
    SELECT n_edges, n_wedges, n_closed,
           CASE WHEN n_wedges > 0 THEN
             CAST(round(n_closed * 1000000 / n_wedges) AS BIGINT)
           END AS closure_micro
    FROM c
"""


@_q(
    "qd18_g_test",
    """
    WITH e AS (SELECT ((epoch_us(ts) // 86400000000 + 4) % 7) AS wk,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    base AS (SELECT (wk = 0 OR wk = 6) AS f, v FROM e),
    ext AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
    cells AS (SELECT CAST(floor((v - mn) * 20 / (mx - mn + 1))
                          AS BIGINT) AS b,
                     CAST(sum(CASE WHEN f THEN 1 ELSE 0 END)
                          AS BIGINT) AS oa,
                     CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END)
                          AS BIGINT) AS ob
              FROM base CROSS JOIN ext GROUP BY 1),
    tot AS (SELECT CAST(sum(oa) AS BIGINT) AS na,
                   CAST(sum(ob) AS BIGINT) AS nb,
                   CAST(count(*) AS BIGINT) AS k FROM cells),
    ag AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
                  CAST(max(nb) AS BIGINT) AS n_b,
                  CAST(max(k) AS BIGINT) AS k,
                  CAST(sum(
                    (CASE WHEN oa > 0 THEN
                       oa * (CAST(round(ln(CAST(oa * (na + nb)
                                              AS DOUBLE)) * 1e6)
                                  AS BIGINT)
                             - CAST(round(ln(CAST((oa + ob) * na
                                                  AS DOUBLE)) * 1e6)
                                    AS BIGINT))
                     ELSE 0 END)
                    + (CASE WHEN ob > 0 THEN
                         ob * (CAST(round(ln(CAST(ob * (na + nb)
                                                 AS DOUBLE)) * 1e6)
                                    AS BIGINT)
                               - CAST(round(ln(CAST((oa + ob) * nb
                                                    AS DOUBLE)) * 1e6)
                                      AS BIGINT))
                       ELSE 0 END)) AS BIGINT) AS s
           FROM cells CROSS JOIN tot)
    SELECT n_a, n_b, k AS n_bins_occupied,
           CAST(k - 1 AS BIGINT) AS df,
           CAST(round(2 * s / 1000) AS BIGINT) AS g2_milli
    FROM ag
    """,
)
def qd18(spark, sf):
    """Binned two-slice G-test of weekend vs weekday values
    (operators/stats.py:g_test_binned) — likelihood-ratio homogeneity
    with every cell term as ln_micro of integer products and exact
    zero cells; G² adds across partitions, which is why corpus
    pipelines prefer it over Pearson."""
    from .operators.stats import g_test_binned

    e = _t(spark, sf, "events").select(
        F.expr(
            "((unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7)"
        ).alias("_wk"),
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    base = e.select(
        ((F.col("_wk") == 0) | (F.col("_wk") == 6)).alias("_we"), "_v"
    )
    return g_test_binned(base, "_we", "_v", 20)


# ---------------------------------------------------------------------------
# round-4 wave 94: diurnal response surface + PACF
# ---------------------------------------------------------------------------


def _qd19_oracle() -> str:
    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        h = lambda x: f"CAST({x} AS HUGEINT)"
        return (
            f"({h(a1)} * ({h(b2)} * {h(c3)} - {h(b3)} * {h(c2)})"
            f" - {h(a2)} * ({h(b1)} * {h(c3)} - {h(b3)} * {h(c1)})"
            f" + {h(a3)} * ({h(b1)} * {h(c2)} - {h(b2)} * {h(c1)}))"
        )

    dd = det3("s0", "s1", "s2", "s1", "s2", "s3", "s2", "s3", "s4")
    da = det3("t0", "s1", "s2", "t1", "s2", "s3", "t2", "s3", "s4")
    db = det3("s0", "t0", "s2", "s1", "t1", "s3", "s2", "t2", "s4")
    dc = det3("s0", "s1", "t0", "s1", "s2", "t1", "s2", "s3", "t2")
    co = lambda n: (
        f"CASE WHEN CAST({dd} AS DOUBLE) <> 0 THEN "
        f"CAST(round(CAST({n} AS DOUBLE) * 1000000 "
        f"/ CAST({dd} AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
    WITH base AS (SELECT (epoch_us(ts) // 3600000000) % 24 AS t,
                         CAST(round(value * 100) AS BIGINT) AS y
                  FROM events),
    m AS (SELECT CAST(count(*) AS BIGINT) AS s0,
                 CAST(sum(t) AS BIGINT) AS s1,
                 CAST(sum(t * t) AS BIGINT) AS s2,
                 CAST(sum(t * t * t) AS BIGINT) AS s3,
                 CAST(sum(t * t * t * t) AS BIGINT) AS s4,
                 CAST(sum(y) AS BIGINT) AS t0,
                 CAST(sum(t * y) AS BIGINT) AS t1,
                 CAST(sum(t * t * y) AS BIGINT) AS t2
          FROM base),
    o AS (SELECT s0 AS n, {co(da)} AS a_micro, {co(db)} AS b_micro,
                 {co(dc)} AS c_micro
          FROM m)
    SELECT n, a_micro, b_micro, c_micro,
           CASE WHEN c_micro <> 0 THEN
             CAST(round(-CAST(b_micro AS DOUBLE) * 1000
                        / (2 * c_micro)) AS BIGINT) END
             AS vertex_milli_hours,
           c_micro > 0 AS convex
    FROM o
    """


@_q("qd19_quadratic_diurnal", None)
def qd19(spark, sf):
    """Quadratic response surface of event value against hour-of-day
    (operators/temporal.py:quadratic_diurnal_fit) — exact weighted
    LS from integer moments through t⁴, 3×3 Cramer with decimal38
    determinants, one mirrored division per coefficient; vertex =
    the peak/trough hour."""
    from .operators.temporal import quadratic_diurnal_fit

    e = _t(spark, sf, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return quadratic_diurnal_fit(e, "ts", "cents")


ORACLES["qd19_quadratic_diurnal"] = _qd19_oracle()


@_q(
    "qd20_pacf",
    """
    WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
                         CAST(count(*) AS BIGINT) AS x
                  FROM events GROUP BY 1),
    mn AS (SELECT min(day) AS lo, max(day) AS hi FROM days),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS t FROM mn),
    dense AS (SELECT spine.t, CAST(coalesce(days.x, 0) AS BIGINT) AS x
              FROM spine LEFT JOIN days ON days.day = spine.t),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx FROM dense),
    z AS (SELECT t, n * x - sx AS z FROM dense CROSS JOIN tot),
    lg AS (SELECT z, lead(z, 1) OVER (ORDER BY t) AS z1,
                  lead(z, 2) OVER (ORDER BY t) AS z2,
                  lead(z, 3) OVER (ORDER BY t) AS z3
           FROM z),
    gam AS (SELECT CAST(sum(z * z) AS BIGINT) AS g0,
                   CAST(sum(z * z1) AS BIGINT) AS g1,
                   CAST(sum(z * z2) AS BIGINT) AS g2,
                   CAST(sum(z * z3) AS BIGINT) AS g3
            FROM lg),
    st AS (SELECT
             CAST(round(CAST(g1 AS DOUBLE) * 1000000 / g0) AS BIGINT)
               AS r1,
             CAST(round(CAST(g2 AS DOUBLE) * 1000000 / g0) AS BIGINT)
               AS r2,
             CAST(round(CAST(g3 AS DOUBLE) * 1000000 / g0) AS BIGINT)
               AS r3
           FROM gam),
    s2 AS (SELECT *, r1 AS p11,
                  CAST(round(CAST(r2 * 1000000 - r1 * r1 AS DOUBLE)
                             * 1000000
                             / (CAST(1000000000000 AS DOUBLE)
                                - r1 * r1)) AS BIGINT) AS p22
           FROM st),
    s3 AS (SELECT *,
                  CAST(round(CAST(p11 * (1000000 - p22) AS DOUBLE)
                             / 1000000) AS BIGINT) AS p21
           FROM s2),
    s4 AS (SELECT *,
                  CAST(round(CAST(CAST(r3 * 1000000000000
                                       - p21 * r2 * 1000000
                                       - p22 * r1 * 1000000
                                       AS HUGEINT) AS DOUBLE) * 1000000
                             / CAST(CAST(1000000000000000000 AS HUGEINT)
                                    - CAST(p21 * r1 AS HUGEINT) * 1000000
                                    - CAST(p22 * r2 AS HUGEINT) * 1000000
                                    AS DOUBLE)) AS BIGINT) AS p33
           FROM s3)
    SELECT CAST(u.lag AS BIGINT) AS lag,
           CASE u.lag WHEN 1 THEN r1 WHEN 2 THEN r2 ELSE r3 END
             AS r_micro,
           CASE u.lag WHEN 1 THEN p11 WHEN 2 THEN p22 ELSE p33 END
             AS pacf_micro
    FROM s4 CROSS JOIN (VALUES (1), (2), (3)) u(lag)
    """,
)
def qd20(spark, sf):
    """PACF at lags 1–3 via unrolled Durbin–Levinson on daily volume
    (operators/temporal.py:pacf_levinson) — Box–Jenkins order
    selection; ACF from dense-spine scaled deviations, each recursion
    level micro-rounded once, integer cross-level products."""
    from .operators.temporal import pacf_levinson

    days = (
        _t(spark, sf, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("x"))
    )
    return pacf_levinson(days, "t", "x")


# ---------------------------------------------------------------------------
# round-4 wave 95: adoption analytics
# ---------------------------------------------------------------------------


@_q(
    "qd21_feature_cousage",
    """
    WITH uf AS (SELECT DISTINCT user_id AS u, event_type AS f
                FROM events),
    marg AS (SELECT f, CAST(count(*) AS BIGINT) AS n FROM uf
             GROUP BY 1),
    nn AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu FROM uf),
    cb AS (SELECT x.f AS feat_a, y.f AS feat_b,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM uf x JOIN uf y ON x.u = y.u AND x.f < y.f
           GROUP BY 1, 2)
    SELECT b.feat_a, b.feat_b, ma.n AS n_a, mb.n AS n_b, b.n_both,
           CAST(round(b.n_both * 1000000
                      / (ma.n + mb.n - b.n_both)) AS BIGINT)
             AS jaccard_micro,
           CAST(round(CAST(b.n_both AS DOUBLE) * nn.nu * 1000
                      / (CAST(ma.n AS DOUBLE) * mb.n)) AS BIGINT)
             AS lift_milli
    FROM cb b
    JOIN marg ma ON ma.f = b.feat_a
    JOIN marg mb ON mb.f = b.feat_b
    CROSS JOIN nn
    """,
)
def qd21(spark, sf):
    """Feature co-usage matrix over distinct users
    (operators/temporal.py:feature_cousage) — co-adopting USERS (not
    qb28's co-occurring events): pairwise Jaccard and adoption lift
    from exact distinct-set joins, one division each."""
    from .operators.temporal import feature_cousage

    return feature_cousage(_t(spark, sf, "events"))


@_q(
    "qd22_activation_lag",
    """
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us,
                         CAST(round(value * 100) AS BIGINT) AS v
                  FROM events),
    hist0 AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM base
              GROUP BY 1),
    nt0 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist0),
    cut AS (SELECT CAST(min(v) AS BIGINT) AS cut FROM
            (SELECT v, sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist0)
            CROSS JOIN nt0 WHERE cm >= (9000 * n + 9999) // 10000),
    per AS (SELECT u, min(us) AS f,
                   min(CASE WHEN v > cut.cut THEN us END) AS a
            FROM base CROSS JOIN cut GROUP BY 1),
    lags AS (SELECT CASE WHEN a IS NOT NULL
                         THEN (a - f) // 3600000000 END AS lag
             FROM per),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(CASE WHEN lag IS NOT NULL THEN 1 ELSE 0
                            END) AS BIGINT) AS n_activated
            FROM lags),
    lh AS (SELECT lag, CAST(count(*) AS BIGINT) AS c FROM lags
           WHERE lag IS NOT NULL GROUP BY 1),
    na AS (SELECT CAST(sum(c) AS BIGINT) AS na FROM lh),
    cum AS (SELECT lag, sum(c) OVER (ORDER BY lag
                    ROWS UNBOUNDED PRECEDING) AS cm FROM lh),
    q25 AS (SELECT CAST(min(lag) AS BIGINT) AS p25_lag_hours
            FROM cum CROSS JOIN na
            WHERE cm >= (2500 * na + 9999) // 10000),
    q50 AS (SELECT CAST(min(lag) AS BIGINT) AS p50_lag_hours
            FROM cum CROSS JOIN na
            WHERE cm >= (5000 * na + 9999) // 10000),
    q75 AS (SELECT CAST(min(lag) AS BIGINT) AS p75_lag_hours
            FROM cum CROSS JOIN na
            WHERE cm >= (7500 * na + 9999) // 10000)
    SELECT tot.n_users, tot.n_activated,
           CAST(round(tot.n_activated * 1000000 / tot.n_users)
                AS BIGINT) AS activation_micro,
           p25_lag_hours, p50_lag_hours, p75_lag_hours
    FROM tot CROSS JOIN q25 CROSS JOIN q50 CROSS JOIN q75
    """,
)
def qd22(spark, sf):
    """Activation-lag distribution — first event to first top-decile
    event per user (operators/temporal.py:activation_lag); exact
    type-1 quartiles of the hour-lag histogram, never-activated
    users counted."""
    from .operators.temporal import activation_lag

    e = _t(spark, sf, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return activation_lag(e, "user_id", "ts", "cents", 9000)


# ---------------------------------------------------------------------------
# round-4 wave 96: circular time + rank stability
# ---------------------------------------------------------------------------


def _qd23_oracle() -> str:
    from .operators.temporal import hour_trig_table

    rows = ", ".join(
        f"({h}, CAST({c} AS BIGINT), CAST({s} AS BIGINT))"
        for h, c, s in hour_trig_table()
    )
    return f"""
    WITH trig(h, cm, sm) AS (VALUES {rows}),
    base AS (SELECT event_type AS g,
                    (epoch_us(ts) // 3600000000) % 24 AS h
             FROM events),
    per AS (SELECT base.g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(trig.cm) AS BIGINT) AS c_sum,
                   CAST(sum(trig.sm) AS BIGINT) AS s_sum
            FROM base JOIN trig ON trig.h = base.h
            GROUP BY 1),
    proj AS (SELECT per.g, trig.h,
                    per.c_sum * trig.cm + per.s_sum * trig.sm AS p
             FROM per CROSS JOIN trig),
    peak AS (SELECT g, CAST(h AS BIGINT) AS peak_hour FROM (
               SELECT g, h, row_number() OVER (PARTITION BY g
                            ORDER BY p DESC, h) AS rn
               FROM proj)
             WHERE rn = 1)
    SELECT per.g AS event_type, per.n, per.c_sum, per.s_sum,
           CAST(round(sqrt(CAST(c_sum AS DOUBLE) * c_sum
                           + CAST(s_sum AS DOUBLE) * s_sum)
                      / (CAST(n AS DOUBLE) * 1000000) * 1000)
                AS BIGINT) AS resultant_milli,
           peak.peak_hour,
           CAST(round(n * (sqrt(CAST(c_sum AS DOUBLE) * c_sum
                                + CAST(s_sum AS DOUBLE) * s_sum)
                           / (CAST(n AS DOUBLE) * 1000000))
                        * (sqrt(CAST(c_sum AS DOUBLE) * c_sum
                                + CAST(s_sum AS DOUBLE) * s_sum)
                           / (CAST(n AS DOUBLE) * 1000000)) * 1000)
                AS BIGINT) AS rayleigh_z_milli,
           CAST(round(n * (sqrt(CAST(c_sum AS DOUBLE) * c_sum
                                + CAST(s_sum AS DOUBLE) * s_sum)
                           / (CAST(n AS DOUBLE) * 1000000))
                        * (sqrt(CAST(c_sum AS DOUBLE) * c_sum
                                + CAST(s_sum AS DOUBLE) * s_sum)
                           / (CAST(n AS DOUBLE) * 1000000)) * 1000)
                AS BIGINT) > 2996 AS concentrated
    FROM per JOIN peak ON peak.g = per.g
    """


@_q("qd23_circular_peak", None)
def qd23(spark, sf):
    """Circular diurnal statistics per event type
    (operators/temporal.py:circular_peak) — resultant length and
    Rayleigh non-uniformity over INJECTED 24-hour trig tables; the
    peak hour is the integer ARGMAX of C·cos+S·sin, so no atan2
    anywhere."""
    from .operators.temporal import circular_peak

    return circular_peak(_t(spark, sf, "events"))


ORACLES["qd23_circular_peak"] = _qd23_oracle()


@_q(
    "qd24_ranking_stability",
    """
    WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS tot_chars
               FROM documents GROUP BY 1),
    ra AS (SELECT source, row_number() OVER (ORDER BY n_docs DESC,
                   source) AS rank FROM m),
    rb AS (SELECT source, row_number() OVER (ORDER BY tot_chars DESC,
                   source) AS rank FROM m),
    j AS (SELECT ra.source AS k, ra.rank AS a, rb.rank AS b
          FROM ra JOIN rb ON rb.source = ra.source),
    p AS (SELECT (x.a - y.a) * (x.b - y.b) AS s
          FROM j x JOIN j y ON x.k < y.k),
    ag AS (SELECT CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS concordant,
                  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS discordant,
                  CAST(count(*) AS BIGINT) AS np FROM p),
    nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM j),
    ov AS (SELECT CAST(count(*) AS BIGINT) AS topk_overlap
           FROM j WHERE a <= 3 AND b <= 3)
    SELECT nk.n_keys, ag.concordant, ag.discordant,
           CASE WHEN ag.np > 0 THEN
             CAST(round((ag.concordant - ag.discordant) * 1000
                        / ag.np) AS BIGINT) END AS tau_milli,
           ov.topk_overlap
    FROM nk CROSS JOIN ag CROSS JOIN ov
    """,
)
def qd24(spark, sf):
    """Rank-stability between volume and size orderings of sources
    (operators/dq.py:ranking_stability) — Kendall tau over the
    source-dimension pair grid plus top-3 overlap; do the two
    dashboards agree about who is big?"""
    from .operators.dq import ranking_stability

    m = (
        _t(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("tot_chars"),
        )
    )
    wa = Window.orderBy(F.col("n_docs").desc(), F.col("source"))
    wb = Window.orderBy(F.col("tot_chars").desc(), F.col("source"))
    ra = m.select("source", F.row_number().over(wa).alias("rank"))
    rb = m.select("source", F.row_number().over(wb).alias("rank"))
    return ranking_stability(ra, rb, "source", 3)


# ---------------------------------------------------------------------------
# round-4 wave 97: growth signal + revenue concentration classes
# ---------------------------------------------------------------------------


@_q(
    "qd25_early_signal_lift",
    """
    WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
    ext AS (SELECT min(us) AS lo, max(us) AS hi FROM base),
    per AS (SELECT u,
                   CAST(sum(CASE WHEN us < lo + 604800000000 THEN 1
                            ELSE 0 END) AS BIGINT) AS early,
                   CAST(max(CASE WHEN us * 3 >= lo + hi * 2 THEN 1
                            ELSE 0 END) AS BIGINT) AS ret
            FROM base CROSS JOIN ext GROUP BY u, lo, hi
            HAVING sum(CASE WHEN us < lo + 604800000000 THEN 1
                       ELSE 0 END) > 0),
    hist AS (SELECT early, CAST(count(*) AS BIGINT) AS c FROM per
             GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cum AS (SELECT early, sum(c) OVER (ORDER BY early
                    ROWS UNBOUNDED PRECEDING) AS cm FROM hist),
    q1 AS (SELECT CAST(min(early) AS BIGINT) AS v FROM cum CROSS JOIN nt
           WHERE cm >= (2500 * n + 9999) // 10000),
    q2 AS (SELECT CAST(min(early) AS BIGINT) AS v FROM cum CROSS JOIN nt
           WHERE cm >= (5000 * n + 9999) // 10000),
    q3 AS (SELECT CAST(min(early) AS BIGINT) AS v FROM cum CROSS JOIN nt
           WHERE cm >= (7500 * n + 9999) // 10000),
    lab AS (SELECT CASE WHEN early <= q1.v THEN 1
                        WHEN early <= q2.v THEN 2
                        WHEN early <= q3.v THEN 3
                        ELSE 4 END AS quartile, ret
            FROM per CROSS JOIN q1 CROSS JOIN q2 CROSS JOIN q3),
    cells AS (SELECT quartile, CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(ret) AS BIGINT) AS n_retained
              FROM lab GROUP BY 1),
    tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS tn,
                   CAST(sum(n_retained) AS BIGINT) AS tr FROM cells)
    SELECT CAST(quartile AS BIGINT) AS quartile, n_users, n_retained,
           CAST(round(n_retained * 1000000 / n_users) AS BIGINT)
             AS retention_micro,
           CASE WHEN tr > 0 THEN
             CAST(round(CAST(n_retained AS DOUBLE) * tn * 1000
                        / (CAST(n_users AS DOUBLE) * tr)) AS BIGINT)
           END AS lift_milli
    FROM cells CROSS JOIN tot
    """,
)
def qd25(spark, sf):
    """Early-signal retention lift by first-week activity quartile
    (operators/temporal.py:early_signal_lift) — growth analytics:
    exact quartile cuts over the first-week activity histogram,
    retention in the last window third, lift vs base rate."""
    from .operators.temporal import early_signal_lift

    return early_signal_lift(_t(spark, sf, "events"))


@_q(
    "qd26_abc_analysis",
    """
    WITH per AS (SELECT l_partkey AS k,
                        CAST(sum(CAST(round(l_extendedprice * 100)
                                      AS BIGINT)) AS BIGINT) AS rev
                 FROM lineitem GROUP BY 1),
    b AS (SELECT rev // 65536 AS bk, rev FROM per),
    hist AS (SELECT bk, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(rev) AS BIGINT) AS s
             FROM b GROUP BY 1),
    tot AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM hist),
    cls AS (SELECT n, s,
                   CASE WHEN (cum - s) * 10000 < 8000 * t THEN 'A'
                        WHEN (cum - s) * 10000 < 9500 * t THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM (SELECT bk, n, s,
                         CAST(sum(s) OVER (ORDER BY bk DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS cum
                  FROM hist) h CROSS JOIN tot),
    outp AS (SELECT abc_class, CAST(sum(n) AS BIGINT) AS n_keys,
                    CAST(sum(s) AS BIGINT) AS revenue
             FROM cls GROUP BY 1)
    SELECT abc_class, n_keys, revenue,
           CAST(round(CAST(revenue AS DOUBLE) * 1000000 / tot.t)
                AS BIGINT) AS share_micro
    FROM outp CROSS JOIN tot
    """,
)
def qd26(spark, sf):
    """ABC revenue-concentration classes over parts
    (operators/dq.py:abc_analysis) — the inventory Pareto classic at
    BUCKET granularity (qb43 range-bucket idiom): the cumulative
    share runs over the bounded bucket spine in descending order,
    never a row-level revenue sort."""
    from .operators.dq import abc_analysis

    li = _t(spark, sf, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return abc_analysis(li, "l_partkey", "cents", 16, 8000, 9500)


# ---------------------------------------------------------------------------
# round-4 wave 98: exact-test multiplicity + tail decomposition
# ---------------------------------------------------------------------------


@_q("qd27_fisher_bh", None)
def qd27(spark, sf):
    """Benjamini-Hochberg at q = 0.10 over qc61's per-type exact
    Fisher p-values — the multiple-testing closure on the exact-test
    family (qb23's BH logic composed over qc61's output verbatim):
    with one drift test per event type, reporting the BH-adjusted
    discoveries instead of raw flags is the difference between an
    alert and alert fatigue.  The p-rank runs over the type dimension
    (bounded); the BH threshold test p·m <= q·rank is pure int64.

    Output per type: event_type, p_micro, p_rank, m_tests,
    bh_threshold_micro, rejected."""
    from pyspark.sql import Window as W

    base = QUERIES["qc61_fisher_exact"](spark, sf).select(
        "event_type", "p_micro"
    )
    wr = W.orderBy(F.col("p_micro"), F.col("event_type"))
    ranked = base.select(
        "event_type",
        "p_micro",
        F.row_number().over(wr).cast("long").alias("p_rank"),
    )
    m = ranked.agg(F.count("*").cast("long").alias("m_tests"))
    j = ranked.crossJoin(F.broadcast(m)).select(
        "*",
        F.round(F.col("p_rank") * 100_000 / F.col("m_tests"))
        .cast("long")
        .alias("bh_threshold_micro"),
    )
    # BH step-up: reject all ranks <= max rank with p*m <= q*rank
    passed = j.where(
        F.col("p_micro") * F.col("m_tests")
        <= F.lit(100_000) * F.col("p_rank")
    ).agg(F.max("p_rank").alias("_maxr"))
    return j.crossJoin(F.broadcast(passed)).select(
        "event_type",
        "p_micro",
        "p_rank",
        "m_tests",
        "bh_threshold_micro",
        F.coalesce(
            F.col("p_rank") <= F.col("_maxr"), F.lit(False)
        ).alias("rejected"),
    )


ORACLES["qd27_fisher_bh"] = f"""
    WITH qc61 AS ({_qc61_oracle()}),
    base AS (SELECT event_type, p_micro FROM qc61),
    ranked AS (SELECT event_type, p_micro,
                      CAST(row_number() OVER (ORDER BY p_micro,
                             event_type) AS BIGINT) AS p_rank
               FROM base),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_tests FROM ranked),
    j AS (SELECT r.*, m.m_tests,
                 CAST(round(r.p_rank * 100000 / m.m_tests) AS BIGINT)
                   AS bh_threshold_micro
          FROM ranked r CROSS JOIN m),
    passed AS (SELECT max(p_rank) AS maxr FROM j
               WHERE p_micro * m_tests <= 100000 * p_rank)
    SELECT j.event_type, j.p_micro, j.p_rank, j.m_tests,
           j.bh_threshold_micro,
           coalesce(j.p_rank <= passed.maxr, FALSE) AS rejected
    FROM j CROSS JOIN passed
"""


@_q(
    "qd28_tail_contribution",
    """
    WITH e AS (SELECT event_type AS g,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    hist AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
    cut AS (SELECT CAST(min(v) AS BIGINT) AS cut FROM
            (SELECT v, sum(c) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cm FROM hist)
            CROSS JOIN nt WHERE cm >= (9900 * n + 9999) // 10000),
    per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN v > cut.cut THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tail
            FROM e CROSS JOIN cut GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
                   CAST(sum(n_tail) AS BIGINT) AS tt FROM per)
    SELECT per.g AS event_type, per.n, per.n_tail,
           CASE WHEN tot.tt > 0 THEN
             CAST(round(per.n_tail * 1000000 / tot.tt) AS BIGINT)
           END AS tail_share_micro,
           CAST(round(per.n * 1000000 / tot.tn) AS BIGINT)
             AS volume_share_micro,
           CASE WHEN tot.tt > 0 AND per.n > 0 THEN
             CAST(round(CAST(per.n_tail AS DOUBLE) * tot.tn * 1000
                        / (CAST(per.n AS DOUBLE) * tot.tt)) AS BIGINT)
           END AS tail_lift_milli
    FROM per CROSS JOIN tot
    """,
)
def qd28(spark, sf):
    """Tail-contribution decomposition at the exact global p99 —
    which event type over-contributes to tail exceedances relative
    to its volume (tail lift > 1000 = the type to optimize first);
    histogram cut, integer shares, one mirrored division each."""
    e = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("_v"),
    )
    hist = e.groupBy("_v").agg(F.count("*").cast("long").alias("_c"))
    nt = hist.agg(F.sum("_c").cast("long").alias("_n"))
    wv = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = (
        hist.select("_v", F.sum("_c").over(wv).alias("_cm"))
        .crossJoin(F.broadcast(nt))
        .where(F.col("_cm") >= F.expr("(9900 * _n + 9999) div 10000"))
        .agg(F.min("_v").alias("_cut"))
    )
    per = (
        e.crossJoin(F.broadcast(cut))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("_v") > F.col("_cut"), 1).otherwise(0))
            .cast("long")
            .alias("n_tail"),
        )
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_tn"),
        F.sum("n_tail").cast("long").alias("_tt"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        "n_tail",
        F.when(
            F.col("_tt") > 0,
            F.round(F.col("n_tail") * 1_000_000 / F.col("_tt")).cast(
                "long"
            ),
        ).alias("tail_share_micro"),
        F.round(F.col("n") * 1_000_000 / F.col("_tn"))
        .cast("long")
        .alias("volume_share_micro"),
        F.when(
            (F.col("_tt") > 0) & (F.col("n") > 0),
            F.round(
                F.col("n_tail").cast("double")
                * F.col("_tn")
                * 1000
                / (F.col("n").cast("double") * F.col("_tt"))
            ).cast("long"),
        ).alias("tail_lift_milli"),
    )


@_q(
    "qd29_icc_agreement",
    """
    WITH rt AS (SELECT 1 AS r UNION ALL SELECT 2 UNION ALL SELECT 3),
    p AS (SELECT d.doc_id AS i, rt.r AS j,
                 CAST(d.n_chars % 100
                      + (CAST('0x' || substr(md5('icc:'
                             || CAST(d.doc_id AS VARCHAR) || ':'
                             || CAST(rt.r AS VARCHAR)), 1, 8) AS BIGINT)
                         % 21) - 10 AS BIGINT) AS x
          FROM documents d CROSS JOIN rt),
    si AS (SELECT i, CAST(sum(x) AS BIGINT) AS s FROM p GROUP BY 1),
    sj AS (SELECT j, CAST(sum(x) AS BIGINT) AS s FROM p GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t,
                   CAST(sum(x) AS BIGINT) AS s,
                   CAST(sum(x * x) AS BIGINT) AS ss FROM p),
    ai AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(s * s) AS BIGINT) AS ssi FROM si),
    bj AS (SELECT CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(s * s) AS BIGINT) AS ssj FROM sj),
    c AS (SELECT n, k, t,
                 CAST(t * ss - s * s AS BIGINT) AS sstt,
                 CAST(n * ssi - s * s AS BIGINT) AS ssrt,
                 CAST(k * ssj - s * s AS BIGINT) AS ssct
          FROM tot CROSS JOIN ai CROSS JOIN bj),
    m AS (SELECT n, k,
                 CAST(ssrt AS DOUBLE)
                   / (CAST(t AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS msr,
                 CAST(ssct AS DOUBLE)
                   / (CAST(t AS DOUBLE) * (CAST(k AS DOUBLE) - 1)) AS msc,
                 (CAST(sstt AS DOUBLE) - CAST(ssrt AS DOUBLE)
                    - CAST(ssct AS DOUBLE))
                   / (CAST(t AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
                      * (CAST(k AS DOUBLE) - 1)) AS mse,
                 (CAST(sstt AS DOUBLE) - CAST(ssrt AS DOUBLE))
                   / (CAST(t AS DOUBLE) * CAST(n AS DOUBLE)
                      * (CAST(k AS DOUBLE) - 1)) AS msw
          FROM c)
    SELECT n AS n_subjects, k AS k_raters,
           CAST(round((msr - msw) / (msr + (CAST(k AS DOUBLE) - 1) * msw)
                      * 1000) AS BIGINT) AS icc1_milli,
           CAST(round((msr - mse)
                      / (msr + (CAST(k AS DOUBLE) - 1) * mse
                         + CAST(k AS DOUBLE) * (msc - mse)
                           / CAST(n AS DOUBLE)) * 1000) AS BIGINT)
             AS icc21_milli,
           CAST(round(msr * 1000) AS BIGINT) AS msr_milli,
           CAST(round(msc * 1000) AS BIGINT) AS msc_milli,
           CAST(round(mse * 1000) AS BIGINT) AS mse_milli
    FROM m
    """,
)
def qd29(spark, sf):
    """ICC(1,1) + ICC(2,1) over a synthesized 3-rater numeric panel
    (operators/stats.py:icc_agreement, Shrout & Fleiss 1979) — the
    continuous-score agreement gate next to the kappa family.  Raters
    are md5-noised transforms of n_chars (the qa61 panel idiom), so
    both engines build the identical panel; all sums of squares are
    exact integer identities (decimal38 power sums on the Spark side),
    doubles enter only at the four mean squares in a mirrored order."""
    from .operators.stats import icc_agreement

    d = _t(spark, sf, "documents")
    panel = d.select(
        F.col("doc_id"),
        F.col("n_chars"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("r"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit("icc"),
                    F.col("doc_id").cast("string"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    scored = panel.select(
        F.col("doc_id").alias("i"),
        F.col("r").alias("j"),
        (F.col("n_chars") % 100 + (h % 21) - 10).cast("long").alias("x"),
    )
    return icc_agreement(scored, "i", "j", "x")


@_q(
    "qd30_watermark_lateness",
    """
    WITH b AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id AS o
               FROM events),
    l AS (SELECT greatest(coalesce(
                   max(us) OVER (PARTITION BY k ORDER BY o
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - us, 0), 0) // 1000000 AS late
          FROM b),
    g AS (SELECT CAST(delay_s AS BIGINT) AS delay_s
          FROM (VALUES (0), (10), (30), (60), (300), (900), (3600))
               AS v(delay_s)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(max(late) AS BIGINT) AS mx FROM l),
    per AS (SELECT g.delay_s,
                   CAST(sum(CASE WHEN l.late > g.delay_s THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_late
            FROM l CROSS JOIN g GROUP BY 1)
    SELECT per.delay_s, tot.n AS n_rows, per.n_late,
           CAST(round(per.n_late * 1000000 / tot.n) AS BIGINT)
             AS late_share_micro,
           tot.mx AS max_lateness_s
    FROM per CROSS JOIN tot
    """,
)
def qd30(spark, sf):
    """Watermark-delay design audit (operators/temporal.py:
    watermark_lateness): per-key event-time disorder with event_id as
    the arrival order — for each candidate `withWatermark` delay in a
    fixed injected grid, the exact fraction of rows a streaming job
    would drop as late.  The running max is partitioned by key (never
    a global window); one scan serves the whole delay grid."""
    from .operators.temporal import watermark_lateness

    e = _t(spark, sf, "events")
    return watermark_lateness(e, "user_id", "ts", "event_id")


def _qd31_oracle() -> str:
    def funnel(tag: str, pred: str) -> str:
        return f"""
    b{tag} AS (SELECT user_id AS u, event_type AS t, ts FROM events
               WHERE {pred}),
    r1{tag} AS (SELECT u, min(ts) AS t1 FROM b{tag} WHERE t = 'view'
                GROUP BY u),
    r2{tag} AS (SELECT b.u, min(b.ts) AS t2 FROM b{tag} b
                JOIN r1{tag} r ON r.u = b.u
                WHERE b.t = 'click' AND b.ts > r.t1 GROUP BY b.u),
    r3{tag} AS (SELECT b.u, min(b.ts) AS t3 FROM b{tag} b
                JOIN r2{tag} r ON r.u = b.u
                WHERE b.t = 'purchase' AND b.ts > r.t2 GROUP BY b.u),
    s{tag} AS (SELECT 1 AS stage, 'view' AS step_name,
                      CAST(count(*) AS BIGINT) AS reach FROM r1{tag}
      UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM r2{tag}
      UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM r3{tag}),
    s{tag}2 AS (SELECT * FROM s{tag} WHERE reach > 0),
    n{tag} AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM b{tag})"""

    return f"""
    WITH {funnel('a', 'user_id % 2 = 0')[5:]},
    {funnel('b', 'user_id % 2 <> 0')[5:]},
    j AS (SELECT coalesce(sa2.stage, sb2.stage) AS stage,
                 coalesce(sa2.step_name, sb2.step_name) AS step_name,
                 CAST(coalesce(sa2.reach, 0) AS BIGINT) AS reach_a,
                 CAST(coalesce(sb2.reach, 0) AS BIGINT) AS reach_b
          FROM sa2 FULL OUTER JOIN sb2
            ON sa2.stage = sb2.stage AND sa2.step_name = sb2.step_name),
    z AS (SELECT j.stage, j.step_name, na.n AS n_seg_a, j.reach_a,
                 nb.n AS n_seg_b, j.reach_b,
                 j.reach_a * nb.n - j.reach_b * na.n AS num,
                 j.reach_a + j.reach_b AS stot,
                 na.n + nb.n AS ntot
          FROM j CROSS JOIN na CROSS JOIN nb),
    zz AS (SELECT stage, step_name, n_seg_a, reach_a, n_seg_b, reach_b,
                  CASE WHEN n_seg_a > 0
                       THEN CAST(round(reach_a * 1000000 / n_seg_a)
                                 AS BIGINT) END AS rate_a_micro,
                  CASE WHEN n_seg_b > 0
                       THEN CAST(round(reach_b * 1000000 / n_seg_b)
                                 AS BIGINT) END AS rate_b_micro,
                  CASE WHEN n_seg_a > 0 AND n_seg_b > 0 AND stot > 0
                        AND stot < ntot
                       THEN CAST(round(
                              sign(CAST(num AS DOUBLE))
                              * sqrt(CAST(num AS DOUBLE) * num * ntot
                                     / (CAST(n_seg_a * n_seg_b AS DOUBLE)
                                        * stot * (ntot - stot)))
                              * 1000) AS BIGINT) END AS z_milli
           FROM z)
    SELECT CAST(stage AS BIGINT) AS stage, step_name, n_seg_a,
           reach_a, n_seg_b, reach_b, rate_a_micro, rate_b_micro,
           z_milli,
           CASE WHEN z_milli IS NOT NULL
                THEN abs(z_milli) * 1000 > 1959964 END AS significant
    FROM zz
    """


ORACLES["qd31_funnel_ztest"] = _qd31_oracle()


def qd31(spark, sf):
    """Per-stage funnel reach z-tests between even/odd user segments
    (operators/temporal.py:funnel_segment_ztest) — qa58's chained
    first-qualifying-event funnel run per segment, then the qb13
    pooled two-proportion rule per stage: did the variant move view,
    click, AND purchase, or only the top of the funnel?"""
    from .operators.temporal import funnel_segment_ztest

    e = _t(spark, sf, "events")
    return funnel_segment_ztest(
        e, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    )


QUERIES["qd31_funnel_ztest"] = qd31


@_q(
    "qd32_groupfold_audit",
    """
    WITH b AS (SELECT user_id AS g, event_type AS s,
                      CAST('0x' || substr(md5('fold|'
                             || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                        % 5 AS fold
               FROM events),
    splitg AS (SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_split_groups
               FROM (SELECT g, count(DISTINCT fold) AS nf FROM b
                     GROUP BY 1)),
    cells AS (SELECT fold, s, CAST(count(*) AS BIGINT) AS c FROM b
              GROUP BY 1, 2),
    ft AS (SELECT fold, CAST(sum(c) AS BIGINT) AS n_rows FROM cells
           GROUP BY 1),
    st AS (SELECT s, CAST(sum(c) AS BIGINT) AS sc FROM cells GROUP BY 1),
    gr AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n FROM ft),
    dev AS (SELECT c.fold,
                   CAST(max(abs(round(c.c * 1000 / f.n_rows)
                                - round(s2.sc * 1000 / gr.n)))
                        AS BIGINT) AS max_strat_dev_milli
            FROM cells c JOIN ft f USING (fold)
            JOIN st s2 ON s2.s = c.s CROSS JOIN gr GROUP BY 1),
    grp AS (SELECT fold, CAST(count(DISTINCT g) AS BIGINT) AS n_groups
            FROM b GROUP BY 1)
    SELECT CAST(ft.fold AS BIGINT) AS fold, ft.n_rows, grp.n_groups,
           CAST(round(ft.n_rows * 1000000 / gr.n) AS BIGINT)
             AS row_share_micro,
           dev.max_strat_dev_milli, splitg.n_split_groups
    FROM ft JOIN grp USING (fold) JOIN dev USING (fold)
    CROSS JOIN gr CROSS JOIN splitg
    """,
)
def qd32(spark, sf):
    """Group-aware k-fold audit (operators/split.py:group_fold_audit):
    md5(group)-deterministic fold assignment with a per-fold balance
    report (row share, group count, worst per-stratum composition
    drift) and the n_split_groups leakage witness — the CV counterpart
    of q62's split guarantee."""
    from .operators.split import group_fold_audit

    e = _t(spark, sf, "events")
    return group_fold_audit(e, "user_id", "event_type", k=5)


@_q(
    "qd33_split_gain",
    """
    WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v,
                      CAST(count(*) AS BIGINT) AS c,
                      CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                           AS BIGINT) AS p
               FROM documents GROUP BY 1),
    cum AS (SELECT v,
                   CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS nl,
                   CAST(sum(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS pl
            FROM h),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(sum(p) AS BIGINT) AS a FROM h)
    SELECT cum.v AS cut_value, cum.nl AS n_left, cum.pl AS pos_left,
           CASE WHEN cum.nl > 0 AND cum.nl < tot.n THEN
             CAST(round(2.0 * (CAST(tot.a AS DOUBLE)
                                 * CAST(tot.n - tot.a AS DOUBLE)
                                 / (CAST(tot.n AS DOUBLE)
                                    * CAST(tot.n AS DOUBLE))
                               - (CAST(cum.pl AS DOUBLE)
                                    * CAST(cum.nl - cum.pl AS DOUBLE)
                                    / CAST(cum.nl AS DOUBLE)
                                  + CAST(tot.a - cum.pl AS DOUBLE)
                                    * CAST(tot.n - cum.nl - tot.a + cum.pl
                                           AS DOUBLE)
                                    / CAST(tot.n - cum.nl AS DOUBLE))
                                 / CAST(tot.n AS DOUBLE))
                        * 1000000) AS BIGINT)
           END AS gain_micro
    FROM cum CROSS JOIN tot
    """,
)
def qd33(spark, sf):
    """Decision-stump Gini split gain over every n_chars cut predicting
    lang='en' (operators/classify.py:stump_split_gain, CART) — the
    univariate feature-importance primitive computed ENTIRELY on the
    value histogram: the cumulative window runs over distinct feature
    values (the qa22 histogram discipline), never rows."""
    from .operators.classify import stump_split_gain

    d = _t(spark, sf, "documents")
    return stump_split_gain(d, "n_chars", F.col("lang") == "en")


@_q(
    "qd34_selfjoin_cardinality",
    """
    WITH h AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(c * c) AS BIGINT) AS sq FROM h),
    top AS (SELECT CAST(sum(c * c) AS BIGINT) AS tsq
            FROM (SELECT c FROM h ORDER BY c DESC, k LIMIT 10))
    SELECT tot.n_rows, tot.n_keys,
           tot.sq AS actual_pairs,
           CAST(CAST(tot.n_rows AS HUGEINT) * tot.n_rows // tot.n_keys
                AS BIGINT) AS est_pairs,
           CAST(round(CAST(tot.sq AS DOUBLE) * tot.n_keys * 1000
                      / (CAST(tot.n_rows AS DOUBLE) * tot.n_rows))
                AS BIGINT) AS err_ratio_milli,
           top.tsq AS topk_pairs,
           CAST(round(CAST(top.tsq AS DOUBLE) * 1000000
                      / CAST(tot.sq AS DOUBLE)) AS BIGINT)
             AS topk_share_micro
    FROM tot CROSS JOIN top
    """,
)
def qd34(spark, sf):
    """Self-join cardinality audit on events.user_id (operators/dq.py:
    selfjoin_cardinality_audit): exact Σc² output size of the would-be
    self-join vs the optimizer's uniform n²/d estimate, plus the
    top-10-hottest-keys share — the pre-flight check before any
    key-equi candidate join ships (the qa42/qa46 salting decision,
    quantified without running the join)."""
    from .operators.dq import selfjoin_cardinality_audit

    e = _t(spark, sf, "events")
    return selfjoin_cardinality_audit(e, "user_id", top_k=10)


@_q(
    "qd35_partition_advisor",
    """
    WITH pk AS (SELECT user_id AS k,
                       CAST(count(*) AS BIGINT) AS c,
                       CAST(sum(32 + strlen(event_type) + strlen(props))
                            AS BIGINT) AS kb
                FROM events GROUP BY 1),
    agg AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(kb) AS BIGINT) AS est_bytes,
                   CAST(max(kb) AS BIGINT) AS max_key_bytes FROM pk)
    SELECT n_rows, n_keys, est_bytes,
           CAST(134217728 AS BIGINT) AS target_bytes,
           CAST((est_bytes + 134217728 - 1) // 134217728 AS BIGINT)
             AS partitions_by_bytes,
           CAST(greatest(least((est_bytes + 134217728 - 1) // 134217728,
                               n_keys), 1) AS BIGINT)
             AS recommended_partitions,
           max_key_bytes,
           CAST(round(CAST(max_key_bytes AS DOUBLE) * 1000 / 134217728)
                AS BIGINT) AS straggler_ratio_milli
    FROM agg
    """,
)
def qd35(spark, sf):
    """spark.sql.shuffle.partitions advisor for a user_id shuffle of
    events (operators/skew.py:shuffle_partition_advisor): estimated
    payload bytes (qa68's width model: 32 fixed bytes + string octet
    lengths) over a 128 MiB target, bounded by the distinct-key count,
    with the hottest key's bytes as the unsplittable straggler floor
    (>1000 milli ⇒ salt before tuning partitions)."""
    from .operators.skew import shuffle_partition_advisor

    e = _t(spark, sf, "events")
    return shuffle_partition_advisor(e, "user_id", target_mb=128)


@_q(
    "qd36_aqe_skew_sim",
    """
    WITH keyed AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c,
                          CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                              1, 8) AS BIGINT) AS h
                   FROM events GROUP BY 1),
    g AS (SELECT CAST(p AS BIGINT) AS partitions
          FROM (VALUES (8), (32), (128), (512)) AS v(p)),
    buckets AS (SELECT g.partitions, keyed.h % g.partitions AS b,
                       CAST(sum(keyed.c) AS BIGINT) AS rows_
                FROM keyed CROSS JOIN g GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM keyed)
    SELECT b.partitions,
           CAST(max(b.rows_) AS BIGINT) AS max_bucket_rows,
           CAST(round(max(b.rows_) * b.partitions * 1000 / tot.n)
                AS BIGINT) AS skew_ratio_milli,
           CAST(sum(CASE WHEN b.rows_ * b.partitions > 5 * tot.n
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_over
    FROM buckets b CROSS JOIN tot
    GROUP BY b.partitions, tot.n
    """,
)
def qd36(spark, sf):
    """AQE skew-split simulation (operators/skew.py:
    hash_bucket_skew_sim): md5-hash-bucket the user_id key histogram
    into 8/32/128/512 partitions and report max-bucket-vs-ideal and the
    buckets a 5x skew threshold would split — the pile-up view (two hot
    keys colliding in one bucket) that per-key advisors (qd09) can't
    show."""
    from .operators.skew import hash_bucket_skew_sim

    e = _t(spark, sf, "events")
    return hash_bucket_skew_sim(e, "user_id")


@_q(
    "qd37_state_projection",
    """
    WITH b AS (SELECT user_id AS k, epoch_us(ts) // 1000000 AS s
               FROM events),
    g AS (SELECT CAST(l AS BIGINT) AS window_len_s
          FROM (VALUES (60), (300), (900), (3600)) AS v(l)),
    inst AS (SELECT window_len_s, w, CAST(count(*) AS BIGINT) AS nk
             FROM (SELECT DISTINCT g.window_len_s,
                          b.s // g.window_len_s AS w, b.k
                   FROM b CROSS JOIN g)
             GROUP BY 1, 2)
    SELECT window_len_s,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(round(sum(nk) * 1000000 / count(*)) AS BIGINT)
             AS avg_keys_micro,
           CAST(max(nk) AS BIGINT) AS max_keys,
           CAST(sum(nk) AS BIGINT) AS total_state_rows
    FROM inst GROUP BY 1
    """,
)
def qd37(spark, sf):
    """Streaming state-store sizing (operators/temporal.py:
    state_size_projection): per candidate tumbling-window length
    (1m/5m/15m/1h grid), the distinct (key, window) state rows a
    windowed agg would hold — average and PEAK window instance (the
    OOM number) — qd30's watermark audit answers when state evicts,
    this answers how big it gets."""
    from .operators.temporal import state_size_projection

    e = _t(spark, sf, "events")
    return state_size_projection(e, "user_id", "ts")


@_q(
    "qd38_aa_uniformity",
    """
    WITH u AS (SELECT user_id AS un,
                      CAST(max(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS x
               FROM events GROUP BY 1),
    pb AS (SELECT CAST('0x' || substr(md5('aa|'
                        || CAST(un AS VARCHAR)), 1, 8) AS BIGINT) % 16
                    AS b,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS xs
           FROM u GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(xs) AS BIGINT) AS xt,
                   CAST(count(*) AS BIGINT) AS k FROM pb),
    cell AS (SELECT tot.k, tot.nt, tot.xt,
                    pb.xs * tot.nt - pb.n * tot.xt AS d, pb.n
             FROM pb CROSS JOIN tot),
    agg AS (SELECT k, nt, xt,
                   CAST(sum(CASE WHEN xt > 0 AND xt < nt THEN
                     CAST(round(CAST(d AS DOUBLE) * d
                                / (CAST(n AS DOUBLE) * xt * (nt - xt))
                                * 1000000) AS BIGINT) END) AS BIGINT)
                     AS chi2_micro
            FROM cell GROUP BY 1, 2, 3)
    SELECT k AS n_buckets, nt AS n_units, xt AS n_success,
           CAST(round(chi2_micro / 1000) AS BIGINT) AS chi2_milli,
           CAST(k - 1 AS BIGINT) AS df,
           round(chi2_micro / 1000) <= 24996 AS uniform_ok
    FROM agg
    """,
)
def qd38(spark, sf):
    """A/A uniformity check (operators/stats.py:aa_uniformity_check):
    user-level purchase conversion across 16 md5 assignment buckets,
    k-arm rate-homogeneity chi² with per-cell micro-rounded mirrored
    contributions and a Python-injected df=15 critical value — the
    bucketing-is-broken alarm completing qb54's 2-arm SRM check."""
    from .operators.stats import aa_uniformity_check

    e = _t(spark, sf, "events")
    u = e.groupBy(F.col("user_id")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return aa_uniformity_check(u, "user_id", "converted", n_buckets=16)


@_q(
    "qd39_mde_curve",
    f"""
    WITH u AS (SELECT user_id AS un,
                      CAST(max(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS c
               FROM events GROUP BY 1),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS BIGINT) AS xs FROM u),
    g AS (SELECT CAST(r AS BIGINT) AS rel_effect_micro
          FROM (VALUES (50000), (100000), (200000), (500000)) AS v(r))
    SELECT g.rel_effect_micro,
           CAST(round(base.xs * 1000000 / base.n) AS BIGINT)
             AS baseline_micro,
           CASE WHEN base.xs > 0 AND base.xs < base.n THEN
             CAST(ceil({(1.959964 + 0.841621) ** 2!r} * 2.0
                       * (CAST(base.xs AS DOUBLE) / CAST(base.n AS DOUBLE))
                       * (1.0 - CAST(base.xs AS DOUBLE)
                              / CAST(base.n AS DOUBLE))
                       / ((CAST(base.xs AS DOUBLE) / CAST(base.n AS DOUBLE)
                           * (CAST(g.rel_effect_micro AS DOUBLE) / 1000000))
                          * (CAST(base.xs AS DOUBLE) / CAST(base.n AS DOUBLE)
                             * (CAST(g.rel_effect_micro AS DOUBLE)
                                / 1000000)))) AS BIGINT) END AS n_per_arm,
           CASE WHEN base.xs > 0 AND base.xs < base.n THEN
             CAST(ceil({(1.959964 + 0.841621) ** 2!r} * 2.0
                       * (CAST(base.xs AS DOUBLE) / CAST(base.n AS DOUBLE))
                       * (1.0 - CAST(base.xs AS DOUBLE)
                              / CAST(base.n AS DOUBLE))
                       / ((CAST(base.xs AS DOUBLE) / CAST(base.n AS DOUBLE)
                           * (CAST(g.rel_effect_micro AS DOUBLE) / 1000000))
                          * (CAST(base.xs AS DOUBLE) / CAST(base.n AS DOUBLE)
                             * (CAST(g.rel_effect_micro AS DOUBLE)
                                / 1000000)))) AS BIGINT) * 2 <= base.n
           END AS feasible
    FROM base CROSS JOIN g
    """,
)
def qd39(spark, sf):
    """MDE sample-size curve (operators/stats.py:mde_sample_size_curve):
    required users per arm at 5%/10%/20%/50% relative effects from the
    measured user-level purchase rate, (z_alpha/2+z_beta)^2 injected as
    one Python literal into BOTH engines — the pre-experiment planning
    table next to qb22's power analysis."""
    from .operators.stats import mde_sample_size_curve

    e = _t(spark, sf, "events")
    return mde_sample_size_curve(
        e.select(
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("conv"),
        ),
        "user_id",
        "conv",
    )


ORACLES["qd40_cluster_source_mix"] = """
    WITH cl AS ({Q64}),
    j AS (SELECT d.source AS src,
                 coalesce(cl.cluster_rep, d.doc_id) AS cluster
          FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
    cs AS (SELECT cluster, src, CAST(count(*) AS BIGINT) AS c
           FROM j GROUP BY 1, 2),
    per AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS csize,
                   CAST(count(*) AS BIGINT) AS nsrc,
                   CAST(max(c) AS BIGINT) AS maj
            FROM cs GROUP BY 1)
    SELECT csize AS cluster_size, nsrc AS n_sources,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(csize) AS BIGINT) AS n_docs,
           CAST(sum(maj) AS BIGINT) AS majority_docs,
           CAST(round(sum(maj) * 1000000 / sum(csize)) AS BIGINT)
             AS purity_micro
    FROM per GROUP BY 1, 2
""".replace("{Q64}", ORACLES["q64_dedup_clusters"])


def qd40(spark, sf):
    """Near-dup cluster provenance mix (operators/dedup.py:
    cluster_source_mix): q64's LSH clusters joined back to sources —
    per (cluster_size, n_sources) cell, cluster/doc counts and
    majority-source purity; singletons reconcile via the left join.
    Oracle composes q64's WITH RECURSIVE closure verbatim (the qc81
    splice idiom)."""
    from .operators.dedup import (
        cluster_source_mix,
        dedup_clusters,
        minhash_band_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf, "documents")
    sig = minhash_signatures(
        d, "text", "doc_id", num_hashes=_MINHASH_N, shingle_n=2
    )
    pairs = minhash_band_pairs(
        sig, "doc_id", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS
    )
    return cluster_source_mix(d, dedup_clusters(pairs))


QUERIES["qd40_cluster_source_mix"] = qd40


ORACLES["qd41_fisher_by"] = f"""
    WITH qc61 AS ({_qc61_oracle()}),
    base AS (SELECT event_type, p_micro FROM qc61),
    ranked AS (SELECT event_type, p_micro,
                      CAST(row_number() OVER (ORDER BY p_micro,
                             event_type) AS BIGINT) AS p_rank
               FROM base),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_tests FROM ranked),
    cm AS (SELECT CAST(sum(1000000 // p_rank) AS BIGINT) AS cm_micro
           FROM ranked),
    j AS (SELECT r.*, m.m_tests, cm.cm_micro
          FROM ranked r CROSS JOIN m CROSS JOIN cm),
    passed AS (SELECT max(p_rank) AS maxr FROM j
               WHERE p_micro * m_tests * cm_micro
                     <= CAST(100000 AS BIGINT) * p_rank * 1000000)
    SELECT j.event_type, j.p_micro, j.p_rank, j.m_tests, j.cm_micro,
           coalesce(j.p_rank <= passed.maxr, FALSE) AS rejected
    FROM j CROSS JOIN passed
"""


def qd41(spark, sf):
    """Benjamini-Yekutieli at q = 0.10 over qc61's exact Fisher
    p-values — qd27's BH closure hardened for ARBITRARY dependence
    between the per-type tests (the types share the day margin, so
    independence is exactly what we can't assume).  The BY correction
    factor c(m) = Σ 1/j enters as the micro-harmonic integer
    Σ (1e6 div j) over the bounded rank spine — computed identically
    in both engines, so the step-up test p·m·c ≤ q·rank stays pure
    int64 (max product ~1.2e13)."""
    from pyspark.sql import Window as W

    base = QUERIES["qc61_fisher_exact"](spark, sf).select(
        "event_type", "p_micro"
    )
    wr = W.orderBy(F.col("p_micro"), F.col("event_type"))
    ranked = base.select(
        "event_type",
        "p_micro",
        F.row_number().over(wr).cast("long").alias("p_rank"),
    )
    m = ranked.agg(F.count("*").cast("long").alias("m_tests"))
    cm = ranked.agg(
        F.sum(F.expr("1000000 div p_rank")).cast("long").alias("cm_micro")
    )
    j = ranked.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(cm))
    passed = j.where(
        F.col("p_micro") * F.col("m_tests") * F.col("cm_micro")
        <= F.lit(100_000).cast("long")
        * F.col("p_rank")
        * F.lit(1_000_000).cast("long")
    ).agg(F.max("p_rank").alias("_maxr"))
    return j.crossJoin(F.broadcast(passed)).select(
        "event_type",
        "p_micro",
        "p_rank",
        "m_tests",
        "cm_micro",
        F.coalesce(F.col("p_rank") <= F.col("_maxr"), F.lit(False)).alias(
            "rejected"
        ),
    )


QUERIES["qd41_fisher_by"] = qd41


@_q(
    "qd42_session_paths",
    """
    WITH b AS (SELECT user_id AS u, strftime(ts, '%Y-%m-%d') AS day,
                      event_type AS t,
                      row_number() OVER (
                        PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                        ORDER BY ts, event_id) AS rn
               FROM events),
    paths AS (SELECT u, day,
                     string_agg(t, '>' ORDER BY rn) AS path
              FROM b WHERE rn <= 8 GROUP BY u, day),
    counted AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
                FROM paths GROUP BY 1)
    SELECT path, n_sessions FROM counted
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def qd42(spark, sf):
    """Top-20 daily behavior paths: per (user, day) the first 8 event
    types in (ts, event_id) order joined '>' — lightweight sequential-
    pattern mining over the transcript-shaped event log (the
    aggregate view qb56's per-user regex matcher and qc86's semi-
    Markov rates summarize one step at a time).  The per-key rank
    window is partitioned; the final top-20 is orderBy+limit ⇒
    TakeOrderedAndProject, never a global sort."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy(
        "user_id", F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    ).orderBy("ts", "event_id")
    ranked = e.select(
        F.col("user_id").alias("u"),
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias(
            "day"
        ),
        F.col("event_type").alias("t"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 8)
    paths = ranked.groupBy("u", "day").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    return counted.orderBy(
        F.col("n_sessions").desc(), F.col("path")
    ).limit(20)


@_q(
    "qd43_yuen_ttest",
    """
    WITH base AS (SELECT event_type AS g,
                         CAST(round(value * 100) AS BIGINT) AS x
                  FROM events WHERE event_type IN ('click', 'view')),
    hist AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM base
             GROUP BY 1, 2),
    staged AS (SELECT g, x, c,
                      sum(c) OVER (PARTITION BY g ORDER BY x
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(c) OVER (PARTITION BY g) AS n
               FROM hist),
    cuts AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
                    CAST(min(CASE WHEN 100 * cum >= 10 * n THEN x END)
                         AS BIGINT) AS q_lo,
                    CAST(min(CASE WHEN 100 * cum >= 90 * n THEN x END)
                         AS BIGINT) AS q_hi
             FROM staged GROUP BY 1),
    folded AS (SELECT h.g, CAST(max(cu.n) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN h.x >= cu.q_lo AND h.x <= cu.q_hi
                                    THEN h.x * h.c ELSE 0 END) AS BIGINT)
                        AS st,
                      CAST(sum(CASE WHEN h.x >= cu.q_lo AND h.x <= cu.q_hi
                                    THEN h.c ELSE 0 END) AS BIGINT) AS h2,
                      CAST(sum(greatest(least(h.x, cu.q_hi), cu.q_lo) * h.c)
                           AS BIGINT) AS sw,
                      CAST(sum(greatest(least(h.x, cu.q_hi), cu.q_lo)
                               * greatest(least(h.x, cu.q_hi), cu.q_lo)
                               * h.c) AS BIGINT) AS ssw
               FROM hist h JOIN cuts cu ON cu.g = h.g GROUP BY 1),
    fa AS (SELECT n AS n_a, st AS sta, h2 AS h_a, sw AS swa, ssw AS sswa
           FROM folded WHERE g = 'click'),
    fb AS (SELECT n AS n_b, st AS stb, h2 AS h_b, sw AS swb, ssw AS sswb
           FROM folded WHERE g = 'view'),
    z AS (SELECT n_a, h_a, CAST(sta AS DOUBLE) / h_a AS ma,
                 n_b, h_b, CAST(stb AS DOUBLE) / h_b AS mb,
                 CAST(n_a * sswa - swa * swa AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) * h_a * (h_a - 1)) AS da,
                 CAST(n_b * sswb - swb * swb AS DOUBLE)
                   / (CAST(n_b AS DOUBLE) * h_b * (h_b - 1)) AS db
          FROM fa CROSS JOIN fb)
    SELECT n_a, h_a, CAST(round(ma * 1000) AS BIGINT) AS tmean_a_milli,
           n_b, h_b, CAST(round(mb * 1000) AS BIGINT) AS tmean_b_milli,
           CASE WHEN h_a > 1 AND h_b > 1 THEN
             CAST(round((ma - mb) / sqrt(da + db) * 1000) AS BIGINT)
           END AS t_milli,
           CASE WHEN h_a > 1 AND h_b > 1 THEN
             CAST(round((da + db) * (da + db)
                        / (da * da / (h_a - 1) + db * db / (h_b - 1))
                        * 1000) AS BIGINT)
           END AS df_milli
    FROM z
    """,
)
def qd43(spark, sf):
    """Yuen's robust two-sample t-test, click vs view event values
    (operators/stats.py:yuen_trimmed_ttest, Yuen 1974): trimmed means
    + winsorized variances at the exact 10/90 value cuts (qc28's
    VALUE-based trim convention — the only tie rule deterministic
    across engines), Welch df; everything folds over the per-group
    value histogram, doubles only in the final mirrored assembly."""
    from .operators.stats import yuen_trimmed_ttest

    e = _t(spark, sf, "events")
    return yuen_trimmed_ttest(
        e.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        ),
        "event_type",
        "v",
        "click",
        "view",
    )


@_q(
    "qd44_transition_drift",
    """
    WITH b AS (SELECT user_id AS u, event_type AS t, ts, event_id,
                      CASE WHEN CAST(strftime(ts, '%d') AS BIGINT) <= 15
                           THEN 1 ELSE 2 END AS half
               FROM events),
    seq AS (SELECT u, half, t AS t_from,
                   lead(t) OVER (PARTITION BY u ORDER BY ts, event_id)
                     AS t_to
            FROM b),
    cells AS (SELECT half, t_from, t_to, CAST(count(*) AS BIGINT) AS c
              FROM seq WHERE t_to IS NOT NULL GROUP BY 1, 2, 3),
    ht AS (SELECT half, CAST(sum(c) AS BIGINT) AS nh FROM cells
           GROUP BY 1),
    ct AS (SELECT t_from, t_to, CAST(sum(c) AS BIGINT) AS ctot
           FROM cells GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n FROM ht),
    grid AS (SELECT ht.half, ct.t_from, ct.t_to, ht.nh, ct.ctot, tot.n,
                    coalesce(cells.c, 0) AS o
             FROM ht CROSS JOIN ct CROSS JOIN tot
             LEFT JOIN cells ON cells.half = ht.half
               AND cells.t_from = ct.t_from AND cells.t_to = ct.t_to),
    contrib AS (SELECT half, t_from, t_to,
                       CAST(round(
                         CAST(o * n - nh * ctot AS DOUBLE)
                         * (o * n - nh * ctot)
                         / (CAST(n AS DOUBLE) * nh * ctot)
                         * 1000000) AS BIGINT) AS c_micro
                FROM grid),
    agg AS (SELECT CAST(sum(c_micro) AS BIGINT) AS chi2_micro,
                   CAST(count(*) AS BIGINT) AS n_cells2 FROM contrib)
    SELECT CAST(round(chi2_micro / 1000) AS BIGINT) AS chi2_milli,
           CAST(n_cells2 // 2 - 1 AS BIGINT) AS df,
           CAST(n_cells2 // 2 AS BIGINT) AS n_transition_types
    FROM agg
    """,
)
def qd44(spark, sf):
    """Transition-matrix drift: chi² homogeneity of the per-user
    event-type transition distribution between the first and second
    half of the month — 'did behavior CHAINS change', the dynamics
    counterpart of qb21's static JSD drift and the stability check
    behind every Markov-model op (qb05/qb12/qc86/qd07).  Per-cell
    d = o·N − n_h·c_tot stays exact int64; contributions are one
    mirrored double chain micro-rounded per cell (qd38 discipline)
    over the bounded half × transition grid."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("u").orderBy("ts", "event_id")
    seq = e.select(
        F.col("user_id").alias("u"),
        F.when(
            F.date_format(F.col("ts").cast("timestamp"), "dd").cast("long")
            <= 15,
            F.lit(1),
        )
        .otherwise(F.lit(2))
        .alias("half"),
        F.col("event_type").alias("t_from"),
        "ts",
        "event_id",
    ).select(
        "u",
        "half",
        "t_from",
        F.lead("t_from").over(w).alias("t_to"),
    )
    cells = (
        seq.where(F.col("t_to").isNotNull())
        .groupBy("half", "t_from", "t_to")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ht = cells.groupBy("half").agg(F.sum("c").cast("long").alias("nh"))
    ct = cells.groupBy("t_from", "t_to").agg(
        F.sum("c").cast("long").alias("ctot")
    )
    tot = ht.agg(F.sum("nh").cast("long").alias("n"))
    grid = (
        ht.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(cells, ["half", "t_from", "t_to"], "left")
        .select(
            "half",
            "t_from",
            "t_to",
            "nh",
            "ctot",
            "n",
            F.coalesce(F.col("c"), F.lit(0)).alias("o"),
        )
    )
    d = F.col("o") * F.col("n") - F.col("nh") * F.col("ctot")
    contrib = grid.select(
        F.round(
            d.cast("double")
            * d
            / (F.col("n").cast("double") * F.col("nh") * F.col("ctot"))
            * 1_000_000
        )
        .cast("long")
        .alias("c_micro")
    )
    agg = contrib.agg(
        F.sum("c_micro").cast("long").alias("chi2_micro"),
        F.count("*").cast("long").alias("n_cells2"),
    )
    return agg.select(
        F.round(F.col("chi2_micro") / 1000).cast("long").alias("chi2_milli"),
        (F.expr("n_cells2 div 2") - 1).cast("long").alias("df"),
        F.expr("n_cells2 div 2").alias("n_transition_types"),
    )


@_q(
    "qd45_seasonal_anomaly",
    """
    WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                          CAST((CAST(epoch_us(ts) // 1000000 AS BIGINT)
                                // 86400 + 4) % 7 AS BIGINT) AS dow,
                          CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2),
    dm AS (SELECT dow, CAST(sum(n) AS BIGINT) AS sn,
                  CAST(count(*) AS BIGINT) AS nd FROM daily GROUP BY 1),
    res AS (SELECT d.day, d.dow, d.n,
                   CAST(d.n * dm.nd - dm.sn AS BIGINT) AS r_scaled,
                   dm.nd
            FROM daily d JOIN dm ON dm.dow = d.dow),
    resn AS (SELECT day, dow, n, nd,
                    CAST(round(CAST(r_scaled AS DOUBLE) * 1000 / nd)
                         AS BIGINT) AS resid_milli
             FROM res),
    med AS (SELECT CAST(min(resid_milli) AS BIGINT) AS m FROM
            (SELECT resid_milli,
                    row_number() OVER (ORDER BY resid_milli, day) AS rn,
                    count(*) OVER () AS cnt
             FROM resn) WHERE 2 * rn >= cnt + 1),
    ad AS (SELECT resn.*, abs(resid_milli - med.m) AS adev
           FROM resn CROSS JOIN med),
    mad AS (SELECT CAST(min(adev) AS BIGINT) AS mad_milli FROM
            (SELECT adev, row_number() OVER (ORDER BY adev, day) AS rn,
                    count(*) OVER () AS cnt
             FROM ad) WHERE 2 * rn >= cnt + 1)
    SELECT ad.day, ad.dow, ad.n, ad.resid_milli,
           CASE WHEN mad.mad_milli > 0 THEN
             CAST(round((ad.resid_milli - med.m) * 674.5 / mad.mad_milli)
                  AS BIGINT) END AS z_milli,
           CASE WHEN mad.mad_milli > 0 THEN
             abs(CAST(round((ad.resid_milli - med.m) * 674.5
                            / mad.mad_milli) AS BIGINT)) > 3500
           END AS is_anomaly
    FROM ad CROSS JOIN med CROSS JOIN mad
    """,
)
def qd45(spark, sf):
    """Seasonally-adjusted daily anomaly score: remove the day-of-week
    mean (the (epoch_day+4)%%7 portable dow, qb71 idiom), then robust
    MAD z-scores with the 0.6745 consistency constant injected as one
    literal — |z| > 3.5 is the Iglewicz-Hoban rule.  The residual and
    MAD medians are exact type-1 ranks over the 30-row day spine
    (calendar-bounded windows); composes qb63's trailing-window view
    with qa48's MAD discipline into one deseasonalized detector."""
    e = _t(spark, sf, "events")
    daily = e.select(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias(
            "day"
        ),
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 1000000 div 86400 + 4)"
            " % 7"
        )
        .cast("long")
        .alias("dow"),
    ).groupBy("day", "dow").agg(F.count("*").cast("long").alias("n"))
    dm = daily.groupBy("dow").agg(
        F.sum("n").cast("long").alias("sn"),
        F.count("*").cast("long").alias("nd"),
    )
    resn = daily.join(dm, "dow").select(
        "day",
        "dow",
        "n",
        "nd",
        F.round(
            (F.col("n") * F.col("nd") - F.col("sn")).cast("double")
            * 1000
            / F.col("nd")
        )
        .cast("long")
        .alias("resid_milli"),
    )
    wm = Window.orderBy("resid_milli", "day")
    med = resn.select(
        "resid_milli",
        F.row_number().over(wm).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    ).where(2 * F.col("rn") >= F.col("cnt") + 1).agg(
        F.min("resid_milli").cast("long").alias("m")
    )
    ad = resn.crossJoin(F.broadcast(med)).select(
        "day",
        "dow",
        "n",
        "resid_milli",
        F.col("m"),
        F.abs(F.col("resid_milli") - F.col("m")).alias("adev"),
    )
    wa = Window.orderBy("adev", "day")
    mad = ad.select(
        "adev",
        F.row_number().over(wa).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    ).where(2 * F.col("rn") >= F.col("cnt") + 1).agg(
        F.min("adev").cast("long").alias("mad_milli")
    )
    z = F.round(
        (F.col("resid_milli") - F.col("m")) * 674.5 / F.col("mad_milli")
    ).cast("long")
    return ad.crossJoin(F.broadcast(mad)).select(
        "day",
        "dow",
        "n",
        "resid_milli",
        F.when(F.col("mad_milli") > 0, z).alias("z_milli"),
        F.when(F.col("mad_milli") > 0, F.abs(z) > 3500).alias("is_anomaly"),
    )


@_q(
    "qd46_split_parity",
    """
    WITH s AS (SELECT lang,
                      CASE WHEN substr(md5('|' || CAST(doc_id AS VARCHAR)),
                                       1, 8) < 'cccccccd'
                           THEN 'train' ELSE 'holdout' END AS split
               FROM documents),
    cells AS (SELECT lang,
                     CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                          AS BIGINT) AS ctr,
                     CAST(sum(CASE WHEN split <> 'train' THEN 1 ELSE 0 END)
                          AS BIGINT) AS cho
              FROM s GROUP BY 1),
    tot AS (SELECT CAST(sum(ctr) AS BIGINT) AS ntr,
                   CAST(sum(cho) AS BIGINT) AS nho FROM cells),
    z AS (SELECT c.lang, c.ctr, c.cho, tot.ntr, tot.nho,
                 CAST(round(c.ctr * 1000000 / tot.ntr) AS BIGINT)
                   AS share_train_micro,
                 CAST(round(c.cho * 1000000 / tot.nho) AS BIGINT)
                   AS share_holdout_micro,
                 CASE WHEN c.ctr > 0 AND c.cho > 0 THEN
                   CAST(round((CAST(round(c.ctr * 1000000 / tot.ntr)
                                    AS BIGINT)
                               - CAST(round(c.cho * 1000000 / tot.nho)
                                      AS BIGINT))
                              * (round(ln(CAST(c.ctr AS DOUBLE) * tot.nho
                                          / (CAST(c.cho AS DOUBLE)
                                             * tot.ntr)) * 1000000))
                              / 1000000) AS BIGINT) END
                   AS psi_cell_micro
          FROM cells c CROSS JOIN tot)
    SELECT lang, ctr AS n_train, cho AS n_holdout,
           share_train_micro, share_holdout_micro,
           abs(share_train_micro - share_holdout_micro)
             AS share_gap_micro,
           psi_cell_micro
    FROM z
    """,
)
def qd46(spark, sf):
    """Train/holdout distribution-parity release gate over the q62 hash
    split: per lang, both shares, the absolute share gap, and the PSI
    cell contribution — 'did the 80/20 split preserve the language
    mix', the per-split companion of qa39's balance audit and qb69's
    temporal PSI.  PSI cell = (p−q)·ln(p/q) in micro units (×1e6,
    qb69's PSI scale): the ln of the EXACT
    integer odds ratio is micro-rounded once per cell (q66/qb69 ln
    idiom), shares are micro ints, one mirrored integer product per
    cell — engine-exact by construction.  Split thresholds are the
    q62 hex constants; everything is two aggregates over one scan."""
    h = F.substring(
        F.md5(F.concat_ws("|", F.lit(""), F.col("doc_id").cast("string"))),
        1,
        8,
    )
    d = _t(spark, sf, "documents").select(
        "lang",
        F.when(h < "cccccccd", F.lit("train"))
        .otherwise(F.lit("holdout"))
        .alias("split"),
    )
    cells = d.groupBy("lang").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("ctr"),
        F.sum(F.when(F.col("split") != "train", 1).otherwise(0))
        .cast("long")
        .alias("cho"),
    )
    tot = cells.agg(
        F.sum("ctr").cast("long").alias("ntr"),
        F.sum("cho").cast("long").alias("nho"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    sh_tr = F.round(F.col("ctr") * 1_000_000 / F.col("ntr")).cast("long")
    sh_ho = F.round(F.col("cho") * 1_000_000 / F.col("nho")).cast("long")
    ln_odds = F.round(
        F.log(
            F.col("ctr").cast("double")
            * F.col("nho")
            / (F.col("cho").cast("double") * F.col("ntr"))
        )
        * 1_000_000
    )
    psi_cell = F.when(
        (F.col("ctr") > 0) & (F.col("cho") > 0),
        F.round((sh_tr - sh_ho) * ln_odds / 1_000_000).cast("long"),
    )
    return j.select(
        "lang",
        F.col("ctr").alias("n_train"),
        F.col("cho").alias("n_holdout"),
        sh_tr.alias("share_train_micro"),
        sh_ho.alias("share_holdout_micro"),
        F.abs(sh_tr - sh_ho).alias("share_gap_micro"),
        psi_cell.alias("psi_cell_micro"),
    )


@_q(
    "qd47_tukey_fences",
    """
    WITH base AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
                  FROM documents),
    hist AS (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM base
             GROUP BY 1, 2),
    staged AS (SELECT g, x, c,
                      sum(c) OVER (PARTITION BY g ORDER BY x
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(c) OVER (PARTITION BY g) AS n
               FROM hist),
    qs AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
                  CAST(min(CASE WHEN 4 * cum >= n THEN x END) AS BIGINT)
                    AS q1,
                  CAST(min(CASE WHEN 4 * cum >= 3 * n THEN x END)
                       AS BIGINT) AS q3
           FROM staged GROUP BY 1),
    cnt AS (SELECT h.g,
                   CAST(sum(CASE WHEN 1000 * h.x
                                      < 1000 * q.q1 - 1500 * (q.q3 - q.q1)
                                 THEN h.c ELSE 0 END) AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN 1000 * h.x
                                      > 1000 * q.q3 + 1500 * (q.q3 - q.q1)
                                 THEN h.c ELSE 0 END) AS BIGINT) AS n_high
            FROM hist h JOIN qs q ON q.g = h.g GROUP BY 1)
    SELECT qs.g AS source, qs.n, qs.q1, qs.q3,
           cnt.n_low, cnt.n_high,
           CAST(round((cnt.n_low + cnt.n_high) * 1000000 / qs.n)
                AS BIGINT) AS outlier_micro
    FROM qs JOIN cnt ON cnt.g = qs.g
    """,
)
def qd47(spark, sf):
    """Tukey-fence outlier profile of document length per source: exact
    type-1 quartiles from the per-group value histogram (4·cum ≥ k·n
    integer ranks), fences q1−1.5·IQR / q3+1.5·IQR kept integer by
    clearing to milli (1000x + 1500·IQR), counts folded over the SAME
    histogram — the box-plot-rule companion of qa48's MAD outliers
    (fences are the reporting convention, MAD the robust-z one)."""
    d = _t(spark, sf, "documents")
    hist = d.select(
        F.col("source").alias("g"), F.col("n_chars").cast("long").alias("x")
    ).groupBy("g", "x").agg(F.count("*").cast("long").alias("c"))
    wg = Window.partitionBy("g").orderBy("x")
    staged = hist.select(
        "g",
        "x",
        "c",
        F.sum("c").over(wg).alias("cum"),
        F.sum("c").over(Window.partitionBy("g")).alias("n"),
    )
    qs = staged.groupBy("g").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("x")))
        .cast("long")
        .alias("q1"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("x")))
        .cast("long")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    cnt = (
        hist.join(qs, "g")
        .groupBy("g")
        .agg(
            F.sum(
                F.when(
                    1000 * F.col("x") < 1000 * F.col("q1") - 1500 * iqr,
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(
                    1000 * F.col("x") > 1000 * F.col("q3") + 1500 * iqr,
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_high"),
        )
    )
    return qs.join(cnt, "g").select(
        F.col("g").alias("source"),
        "n",
        "q1",
        "q3",
        "n_low",
        "n_high",
        F.round((F.col("n_low") + F.col("n_high")) * 1_000_000 / F.col("n"))
        .cast("long")
        .alias("outlier_micro"),
    )


@_q(
    "qd48_coverage_gaps",
    """
    WITH days AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day
                  FROM events),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    daily AS (SELECT event_type AS t, strftime(ts, '%Y-%m-%d') AS day,
                     CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
    grid AS (SELECT types.t, days.day, coalesce(daily.n, 0) AS n,
                    row_number() OVER (PARTITION BY types.t
                                       ORDER BY days.day) AS di
             FROM types CROSS JOIN days
             LEFT JOIN daily ON daily.t = types.t
               AND daily.day = days.day),
    zeros AS (SELECT t, day, di,
                     di - row_number() OVER (PARTITION BY t
                                             ORDER BY di) AS grp
              FROM grid WHERE n = 0),
    runs AS (SELECT t, grp, CAST(count(*) AS BIGINT) AS run_len
             FROM zeros GROUP BY 1, 2),
    mr AS (SELECT t, CAST(max(run_len) AS BIGINT) AS max_run
           FROM runs GROUP BY 1),
    roll AS (SELECT t, CAST(count(*) AS BIGINT) AS n_days,
                    CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_zero_days
             FROM grid GROUP BY 1)
    SELECT roll.t AS event_type, roll.n_days, roll.n_zero_days,
           CAST(coalesce(mr.max_run, 0) AS BIGINT) AS longest_zero_run
    FROM roll LEFT JOIN mr ON mr.t = roll.t
    """,
)
def qd48(spark, sf):
    """Ingest coverage gaps: per event type, days with ZERO events on
    the observed calendar spine and the longest consecutive zero-run
    (gaps-and-islands di − row_number grouping, windows PARTITIONED by
    type over the bounded type × day grid) — the 'did a feed silently
    stop' monitor behind qb63's anomaly view: zero is a gap, not an
    outlier, and needs its own detector."""
    e = _t(spark, sf, "events")
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    days = e.select(day.alias("day")).distinct()
    types = e.select(F.col("event_type").alias("t")).distinct()
    daily = e.select(F.col("event_type").alias("t"), day.alias("day")).groupBy(
        "t", "day"
    ).agg(F.count("*").cast("long").alias("n"))
    wg = Window.partitionBy("t").orderBy("day")
    grid = (
        types.crossJoin(days)
        .join(daily, ["t", "day"], "left")
        .select(
            "t",
            "day",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.row_number().over(wg).alias("di"),
        )
    )
    wz = Window.partitionBy("t").orderBy("di")
    zeros = grid.where(F.col("n") == 0).select(
        "t", (F.col("di") - F.row_number().over(wz)).alias("grp")
    )
    runs = zeros.groupBy("t", "grp").agg(
        F.count("*").cast("long").alias("run_len")
    )
    # per-type max BEFORE joining back: a type with several zero-runs
    # must not duplicate its grid rows through the join
    mr = runs.groupBy("t").agg(F.max("run_len").cast("long").alias("max_run"))
    roll = grid.groupBy("t").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(F.col("n") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_days"),
    )
    return roll.join(mr, "t", "left").select(
        F.col("t").alias("event_type"),
        "n_days",
        "n_zero_days",
        F.coalesce(F.col("max_run"), F.lit(0))
        .cast("long")
        .alias("longest_zero_run"),
    )
