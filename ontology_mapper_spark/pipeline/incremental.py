"""Bucket-granular incremental stages and the bucket-table protocol they share.

Stage-level resume (runner.py) skips a whole stage only when NOTHING
changed. At 10^12 turns the realistic case is a trickle: new conversations
land in a few conv_id hash buckets per batch, and each incremental stage
recomputes ONLY those buckets. Every incremental table is parquet
partitioned by an int `bucket` column and follows one protocol:

* layout — `bucket=<b>` directories plus a `_manifest.json` holding the
  schema a reader sees, so reads go through catalog.read_table without a
  schema-inference job;
* marker — `_BUCKET_FINGERPRINTS.json`, {bucket: int};
* staleness — a stage's marker value for bucket b is hash(upstream value
  of b, stage version). A bucket whose value differs from the marker is
  recomputed, and a marked bucket with no upstream value is removed
  (refresh_buckets). Detect's upstream is the transcripts' content
  fingerprint (bucket_fingerprints) and its version the pattern list;
  every later stage's upstream is the marker of the table it reads, so
  a stage never re-scans its input to find what changed;
* write — write_buckets writes the recomputed buckets to a staging
  directory, swaps their directories in, and commits the marker last, so
  a write that dies before its marker commits is recomputed by the next
  batch, and downstream stages only ever see committed upstream markers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table, reader_schema, write_manifest
from .link_score import Dictionary

BUCKET_MARKER = "_BUCKET_FINGERPRINTS.json"
TRANSCRIPT_COLS = ("conv_id", "turn_idx", "text")


def bucket_of(col: str, buckets: int) -> Column:
    """The bucket of a row of any incremental table."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def bucket_fingerprints(
    df: DataFrame,
    buckets: int = 32,
    cols: tuple[str, ...] = TRANSCRIPT_COLS,
    key: str = "conv_id",
) -> dict[str, int]:
    """{bucket of `key`: order-independent content hash of `cols`}: one
    map-side partial aggregation, no shuffle of row data."""
    rows = (
        df.groupBy(bucket_of(key, buckets).alias("bucket"))
        .agg(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("fp"))
        .collect()
    )
    return {str(r["bucket"]): int(r["fp"]) for r in rows}


def load_marker(path: str) -> dict[str, int]:
    try:
        with open(os.path.join(path, BUCKET_MARKER)) as fh:
            # non-bucket keys (an older link marker's "__dict_version__")
            # carry no bucket state
            return {k: int(v) for k, v in json.load(fh).items() if k.isdigit()}
    except (OSError, json.JSONDecodeError):
        return {}


def _save_marker(path: str, marker: dict[str, int]) -> None:
    with open(os.path.join(path, BUCKET_MARKER), "w") as fh:
        json.dump(marker, fh)


def write_buckets(
    df: DataFrame | None, path: str, replace: list[int], marker: dict[str, int]
) -> int:
    """Replace the `bucket=<b>` directories of the table at `path` for every
    b in `replace` with the rows of `df` (partitioned by `bucket`), then
    commit `marker`; returns the rows written. Other buckets stay as they
    are, so the cost is the delta's, not the table's.

    `df` is written to `<path>.staging` first, so it may read the buckets
    it replaces; a bucket in `replace` that `df` has no rows for ends up
    deleted. `df=None` only deletes. The swap is not atomic across
    buckets: the marker, committed last, is what says the table is whole.
    """
    os.makedirs(path, exist_ok=True)
    staging = path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    rows = 0
    if df is not None:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.partitionBy(
            "bucket"
        ).parquet(staging)
        rows = obs.get["rows"]
    for b in replace:
        dst = os.path.join(path, f"bucket={b}")
        shutil.rmtree(dst, ignore_errors=True)
        src = os.path.join(staging, f"bucket={b}")
        if os.path.exists(src):
            shutil.move(src, dst)
    shutil.rmtree(staging, ignore_errors=True)
    if df is not None:
        write_manifest(path, reader_schema(df.schema, ["bucket"]), ["bucket"], rows)
    _save_marker(path, marker)
    return rows


def refresh_buckets(
    path: str,
    upstream: dict[str, int],
    version,
    build: Callable[[list[int]], DataFrame],
) -> dict:
    """Bring the bucket table at `path` up to date with `upstream`
    ({bucket: value}) under the stage's `version` (any JSON value).

    `build(changed)` returns the recomputed rows, with their `bucket`
    column, of the changed buckets; it is called only when some bucket
    changed. Returns {'n_buckets', 'changed_buckets', 'removed_buckets',
    'rows_written'}.
    """
    marker = {
        b: int(hashlib.sha256(json.dumps([v, version]).encode()).hexdigest()[:15], 16)
        for b, v in upstream.items()
    }
    previous = load_marker(path)
    changed = sorted(int(b) for b in marker if previous.get(b) != marker[b])
    removed = sorted(int(b) for b in previous if b not in marker)
    result = {
        "n_buckets": len(marker),
        "changed_buckets": changed,
        "removed_buckets": removed,
        "rows_written": 0,
    }
    if changed or removed:
        result["rows_written"] = write_buckets(
            build(changed) if changed else None, path, changed + removed, marker
        )
    return result


def incremental_detect(
    spark: SparkSession,
    transcripts: DataFrame,
    patterns: list[str],
    out_path: str,
    buckets: int = 32,
) -> dict:
    """Detect mentions in the conv_id buckets whose transcripts or whose
    pattern list changed since the last run (refresh_buckets' result)."""
    from .mention_detect import detect_mentions

    def build(changed: list[int]) -> DataFrame:
        delta = transcripts.where(bucket_of("conv_id", buckets).isin(changed))
        return detect_mentions(
            spark, delta.select(*TRANSCRIPT_COLS), patterns
        ).withColumn("bucket", bucket_of("conv_id", buckets))

    return refresh_buckets(
        out_path, bucket_fingerprints(transcripts, buckets), patterns, build
    )


def incremental_link(
    spark: SparkSession,
    mentions_path: str,
    terms: DataFrame | Dictionary,
    out_path: str,
    dict_version: str = "v1",
) -> dict:
    """Link the mention buckets whose detect marker changed since the last
    link run (or all, when `dict_version` changes: a new snapshot
    invalidates every bucket). `terms` is the terms table or its
    Dictionary, collected only if some bucket changed.

    The link itself stays the broadcast decision-table join (zero
    shuffle). The mentions' own `bucket` column is kept verbatim, so
    partition alignment with the detect stage is structural.
    """
    dictionary = terms if isinstance(terms, Dictionary) else Dictionary(terms)

    def build(changed: list[int]) -> DataFrame:
        mentions = read_table(spark, mentions_path)
        return dictionary.link(mentions.where(F.col("bucket").isin(changed)))

    return refresh_buckets(out_path, load_marker(mentions_path), dict_version, build)
