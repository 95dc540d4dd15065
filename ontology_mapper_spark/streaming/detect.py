"""Structured Streaming surface: live transcript ingestion → mention stream.

The reference is a synchronous batch CLI (SURVEY.md §2.8 — no streaming
anywhere), but a transcript KG at 10^12-turn scale is fed by a live firehose;
the batch operators here are deliberately expressed so the SAME code runs
under Structured Streaming:

* `detect_mentions` is a stateless per-batch map over a broadcast
  automaton, so it is directly streamable: every stream here detects
  through `stream_detect_mentions`, which calls it with the event-time
  column carried (no second scan, no second matcher);
* windowed rollups use event-time windows + watermark for late turns;
* sinks: append-mode parquet per micro-batch lands in the same columns
  the batch pipeline writes, so downstream stages don't care whether a
  row came from batch or stream.

Checkpointing is Structured Streaming's own WAL (`checkpointLocation`),
complementary to the batch runner's stage fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen.transcripts import transcripts_schema
from ..pipeline.mention_detect import detect_mentions


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of transcript parquet drops (the offline stand-in
    for a message-bus source; schema per BASELINE.json:input_hint)."""
    return (
        spark.readStream.schema(transcripts_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_scrub(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-only scrub chain (NFC/control normalize → PII redact) applied
    IN PLACE to ``text_col``, preserving every other column — the
    streaming twin of the batch curation example's stage-0/1 order
    (`examples/training_data_pipeline.py`: codepoint canonicalization
    before any hashing, redaction before anything persists raw text),
    so the incremental pipeline feeds detect/dedup the same bytes the
    batch pipeline would.

    Stateless by construction: the ASCII fast lane stays a JVM Project,
    non-ASCII rows route through the Arrow NFC lane, and the union of
    the two disjoint filters adds no state store — trivially streamable
    ahead of `stream_detect_mentions` / `stream_exact_dedup`.
    """
    from ..operators.pii import redact
    from ..operators.unicode_norm import _NON_ASCII, _nfc_udf, strip_controls

    t = F.col(text_col)
    suspect = F.coalesce(t.rlike(_NON_ASCII), F.lit(False))
    stripped = strip_controls(t)
    ascii_lane = stream.where(~suspect).withColumn(text_col, stripped)
    nfc_lane = stream.where(suspect).withColumn(
        text_col, _nfc_udf()(stripped)
    )
    cleaned = ascii_lane.unionByName(nfc_lane)
    return cleaned.withColumn(text_col, redact(F.col(text_col)))


def stream_detect_mentions(
    spark: SparkSession, stream: DataFrame, patterns: list[str]
) -> DataFrame:
    """Streaming mention detection — the batch operator, unchanged, with
    the event-time column genuinely carried through (detect_mentions'
    carry_cols passthrough) so callers can watermark/window the result."""
    with_ts = stream.select("conv_id", "turn_idx", "text", "ts")
    return detect_mentions(spark, with_ts, patterns, carry_cols=("ts",))


def stream_link_mentions(
    spark: SparkSession, stream: DataFrame, terms: DataFrame
) -> DataFrame:
    """Streaming link stage: the detected mention stream joined to the
    broadcast rank_dictionary decision table — a stateless stream-static
    broadcast join, so exactly the batch per-turn path (map-only, zero
    stream-side shuffle, no state store) running continuously. ts is
    carried through for downstream watermarking."""
    from ..pipeline.link_score import Dictionary

    dictionary = Dictionary(terms)
    mentions = stream_detect_mentions(spark, stream, dictionary.patterns)
    return dictionary.link(mentions)


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-content
    hash wins; re-seen content within the watermark horizon is dropped.

    Built on `dropDuplicatesWithinWatermark` (Spark 3.5+): the state store
    holds one row per distinct hash and EVICTS it once the watermark
    passes that hash's event time + horizon, so state is O(distinct
    content per horizon), not O(stream). Plain watermarked
    `dropDuplicates` on a subset that excludes the event-time column does
    NOT evict — state would grow with every distinct content ever seen
    (ADVICE r2). The content hash is the SAME normalization as the batch
    exact_dedup operator, so batch backfills and the live stream agree on
    what counts as a duplicate.
    """
    from ..operators.dedup import normalized_text_col

    hashed = stream.withColumn(
        "_content_hash",
        F.sha2(F.encode(normalized_text_col(F.col(text_col)), "utf-8"), 256),
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_hash"])
        .drop("_content_hash")
    )


def stream_comention_edges(
    spark: SparkSession,
    stream: DataFrame,
    terms: DataFrame,
    window_turns: int = 2,
    ts_horizon: str = "10 minutes",
    entity_col: str = "class_iri",
) -> DataFrame:
    """Streaming co-mention edge EVENTS: a stream-stream self-join of the
    linked-mention stream with itself, same-conversation, |Δturn| ≤ W,
    entity_a < entity_b — the batch `pipeline/comention.py` semantics run
    continuously.

    State machinery (why each clause exists):

    * the mention stream is first reduced to distinct (conv_id, turn_idx,
      entity) via `dropDuplicatesWithinWatermark` — the batch
      `.distinct()` with state actually EVICTED at watermark + horizon
      (plain subset dropDuplicates never evicts when the subset excludes
      the event-time column — ADVICE r2). Duplicate mentions of one
      (conv, turn, entity) share the turn's ts, so within-horizon dedup
      is exactly batch distinct;
    * the join carries TWO range predicates: `turn_idx BETWEEN ±W` is the
      SEMANTIC window (identical to batch), and `ts BETWEEN ±horizon` is
      the STATE-EVICTION bound Structured Streaming requires on a
      stream-stream join — each side's buffered rows are dropped once the
      other side's watermark passes the horizon. `ts_horizon` must be ≥ the
      maximum wall-clock span of W turns (transcript turns are ≤ 2 minutes
      apart, so the 10-minute default covers W ≤ 5 with slack); it is a
      superset bound and never changes which pairs qualify.

    Emits one row per co-mention EVENT pair (append mode — safe for any
    sink). Count aggregation is left to the consumer: write the events to
    the same bucketed parquet layout as `incremental_edges` and the
    existing compact-at-read sum restores `n_comentions` exactly — counts
    are algebraic, so event-level parquet + batch compaction and a
    hypothetical stateful streaming count agree.
    """
    links = stream_link_mentions(spark, stream, terms)
    ments = (
        links.select(
            "conv_id", "turn_idx", "ts", F.col(entity_col).alias("entity")
        )
        .withWatermark("ts", ts_horizon)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "entity"])
    )
    a = ments.alias("a")
    b = ments.alias("b")
    cond = F.expr(
        f"""
        a.conv_id = b.conv_id
        AND b.turn_idx BETWEEN a.turn_idx - {int(window_turns)}
                           AND a.turn_idx + {int(window_turns)}
        AND b.ts BETWEEN a.ts - INTERVAL {ts_horizon}
                     AND a.ts + INTERVAL {ts_horizon}
        AND a.entity < b.entity
        """
    )
    return a.join(b, cond, "inner").select(
        F.col("a.conv_id").alias("conv_id"),
        F.col("a.turn_idx").alias("turn_a"),
        F.col("b.turn_idx").alias("turn_b"),
        F.col("a.entity").alias("entity_a"),
        F.col("b.entity").alias("entity_b"),
        F.col("a.ts").alias("ts"),
    )


def stream_windowed_comention_counts(
    spark: SparkSession,
    stream: DataFrame,
    terms: DataFrame,
    window_turns: int = 2,
    ts_horizon: str = "10 minutes",
    window: str = "1 minute",
    entity_col: str = "class_iri",
) -> DataFrame:
    """Tumbling-window per-pair co-mention counts (VERDICT r2 item 9): the
    stream-stream co-mention EVENT join chained into a windowed stateful
    count — Spark runs both stateful operators in one query (supported
    for join→agg chains since 3.4). The aggregation's late-data bound IS
    the join inputs' watermark (`ts_horizon`), which propagates through
    the join; re-defining a watermark on the join output is disallowed
    (Spark raises), so there is no separate `watermark` parameter.

    Emits (window_start, window_end, entity_a, entity_b, n_comentions) in
    append mode once the watermark closes each window. The event's window
    is keyed by the FIRST-side (smaller-entity) mention ts, matching the
    batch convention that a pair event belongs to entity_a's turn. Counts
    are algebraic, so summing the emitted windows per pair equals the
    batch `comention_edges` counts on the same data (parity-tested).
    """
    events = stream_comention_edges(
        spark, stream, terms,
        window_turns=window_turns,
        ts_horizon=ts_horizon,
        entity_col=entity_col,
    )
    return (
        events
        .groupBy(F.window("ts", window).alias("win"), "entity_a", "entity_b")
        .agg(F.count("*").alias("n_comentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "entity_a",
            "entity_b",
            "n_comentions",
        )
    )


def windowed_mention_counts(
    spark: SparkSession,
    stream: DataFrame,
    patterns: list[str],
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling event-time window counts per pattern with late-data bound:
    `stream_detect_mentions` (the batch scan, carrying ts), then the
    stateful windowed count, which runs JVM-side with watermark-based
    state eviction."""
    mentions = stream_detect_mentions(spark, stream, patterns)
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "pattern")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "pattern",
            "n_mentions",
        )
    )
