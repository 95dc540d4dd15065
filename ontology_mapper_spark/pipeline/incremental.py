"""Bucket-granular incremental mention detection.

Stage-level resume (runner.py) skips a whole stage only when NOTHING
changed. At 10^12 turns the realistic case is a trickle: new conversations
land in a few conv_id hash buckets per batch. This module recomputes ONLY
those buckets:

1. per-bucket input fingerprints = sum of xxhash64(conv_id, turn_idx,
   text) per bucket (order-independent, distributed, one map-side agg);
2. compare against the fingerprints recorded at last run;
3. re-run detection on changed buckets only and overwrite exactly those
   partitions (overwrite_buckets — untouched bucket directories stay
   as-is, so the write cost is proportional to the delta, not the
   corpus).

This composes with stage fingerprints: the stage marker stores the
per-bucket map instead of one hash.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

BUCKET_MARKER = "_BUCKET_FINGERPRINTS.json"


def overwrite_buckets(df: DataFrame | None, path: str, drop: list[int]) -> int:
    """Delete the `bucket=<b>` directories of the table at `path` for every
    b in `drop`, then write `df` (partitioned by `bucket`) over the
    buckets it holds; returns the rows written. Buckets that are in
    neither stay as they are: per-write dynamic partition overwrite, so
    the cost is the delta's, not the table's.

    Dynamic overwrite replaces only partitions PRESENT in `df`, so a
    changed bucket whose recomputation is empty would keep its stale
    directory: callers pass every changed and removed bucket in `drop`.
    The directories go before the lazy write runs, so `df` must not read
    from `path`. `df=None` only drops.
    """
    os.makedirs(path, exist_ok=True)
    for b in drop:
        shutil.rmtree(os.path.join(path, f"bucket={b}"), ignore_errors=True)
    if df is None:
        return 0
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )
    return obs.get["rows"]


def bucket_fingerprints(transcripts: DataFrame, buckets: int = 32) -> dict[str, int]:
    """{bucket: order-independent content hash} over (conv_id, turn_idx, text)."""
    rows = (
        transcripts.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets))
        )
        .groupBy("bucket")
        .agg(
            F.sum(
                F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)")
            ).alias("fp")
        )
        .collect()
    )
    return {str(r["bucket"]): int(r["fp"]) for r in rows}


def _load_marker(path: str) -> dict[str, int]:
    try:
        with open(os.path.join(path, BUCKET_MARKER)) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}
    except (OSError, json.JSONDecodeError):
        return {}


def _save_marker(path: str, fps: dict[str, int]) -> None:
    with open(os.path.join(path, BUCKET_MARKER), "w") as fh:
        json.dump(fps, fh)


def incremental_detect(
    spark: SparkSession,
    transcripts: DataFrame,
    patterns: list[str],
    out_path: str,
    buckets: int = 32,
) -> dict:
    """Detect mentions for changed buckets only; returns
    {'changed_buckets': [...], 'n_buckets': N, 'rows_written': int}.

    Output layout: parquet partitioned by `bucket`; only changed and
    removed bucket partitions are rewritten (overwrite_buckets).
    """
    from .mention_detect import detect_mentions

    current = bucket_fingerprints(transcripts, buckets)
    previous = _load_marker(out_path) if os.path.exists(out_path) else {}
    changed = sorted(
        int(b) for b in current if previous.get(b) != current[b]
    )
    # buckets that vanished entirely are stale leftovers → treat as changed
    removed = sorted(int(b) for b in previous if b not in current)

    result = {
        "n_buckets": len(current),
        "changed_buckets": changed,
        "removed_buckets": removed,
        "rows_written": 0,
    }
    if not changed and not removed:
        return result

    mentions = None
    if changed:
        delta = transcripts.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets))
        ).where(F.col("bucket").isin(changed))
        mentions = detect_mentions(
            spark, delta.select("conv_id", "turn_idx", "text"), patterns
        ).withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)))
    result["rows_written"] = overwrite_buckets(mentions, out_path, changed + removed)
    _save_marker(out_path, current)
    return result


def _mention_bucket_fps(mentions: DataFrame) -> dict[str, int]:
    rows = (
        mentions.groupBy("bucket")
        .agg(
            F.sum(
                F.xxhash64(
                    "conv_id", "turn_idx", "begin", "end", "pattern"
                ).cast("decimal(38,0)")
            ).alias("fp")
        )
        .collect()
    )
    return {str(r["bucket"]): int(r["fp"]) for r in rows}


def incremental_link(
    spark: SparkSession,
    mentions_path: str,
    terms: DataFrame,
    out_path: str,
    dict_version: str = "v1",
) -> dict:
    """Link only mention buckets that changed since the last link run
    (or all, when the dictionary version changes — a new snapshot
    invalidates every bucket).

    Same delta-proportional pattern as incremental_detect: per-bucket
    fingerprints gate work; overwrite_buckets rewrites only the
    recomputed bucket directories. The link itself stays the broadcast
    decision-table join (zero shuffle). The mentions' own `bucket` column
    is preserved verbatim — never recomputed — so partition alignment
    with the detect stage is structural.
    """
    import hashlib

    from .link_score import rank_dictionary

    # stable across processes (python's hash() is salted per run)
    version_fp = int(hashlib.sha256(dict_version.encode()).hexdigest()[:12], 16)

    # an all-empty detect output has no parquet files at all — treat as an
    # empty mention set instead of failing schema inference
    if any(d.startswith("bucket=") for d in os.listdir(mentions_path)):
        mentions = spark.read.parquet(mentions_path)
        current = _mention_bucket_fps(mentions)
    else:
        mentions = None
        current = {}
    marker = _load_marker(out_path) if os.path.exists(out_path) else {}
    prev_version = marker.pop("__dict_version__", None)
    if prev_version is not None and prev_version != version_fp:
        marker = {}  # dictionary changed → everything is stale
    changed = sorted(int(b) for b in current if marker.get(b) != current[b])
    removed = sorted(int(b) for b in marker if b not in current)

    result = {
        "n_buckets": len(current),
        "changed_buckets": changed,
        "removed_buckets": removed,
    }
    if not changed and not removed:
        return result

    links = None
    if changed:
        ranked = F.broadcast(rank_dictionary(spark, terms, idf=None))
        links = mentions.where(F.col("bucket").isin(changed)).join(
            ranked, "pattern", "inner"
        )
    overwrite_buckets(links, out_path, changed + removed)
    _save_marker(out_path, {**current, "__dict_version__": version_fp})
    return result
