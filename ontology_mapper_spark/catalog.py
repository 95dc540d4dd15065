"""Table catalog: load the driver's parquet tables; write and read the
engine's own tables with a manifest.

At sandbox scale these are plain parquet files; at cluster scale the same
names would be Iceberg tables — the loader is the only code that knows the
difference (SURVEY.md §7.1 step 7 fallback).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Iceberg-like table writes (SURVEY.md §7.1 step 7 parquet fallback)
# ---------------------------------------------------------------------------
#
# No Iceberg runtime jar is resolvable offline in this sandbox, so tables
# are parquet directories in an Iceberg-like layout: data files under the
# table path (optionally hive-partitioned) plus a `_manifest.json` recording
# schema, partition spec, snapshot id, and row count. On a real cluster
# write_table/read_table are the ONLY code to swap for `df.writeTo(name)
# .using("iceberg")` / `spark.table(name)`.


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    snapshot_id: str | None = None,
) -> dict:
    """Overwrite `path` with parquet + `_manifest.json`; returns the
    manifest dict.

    `row_count` is taken from an Observation attached to the write job
    itself (no read-back count); the schema is `reader_schema`'s, so
    nothing is read back.
    """
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return write_manifest(
        path,
        reader_schema(df.schema, partition_by or []),
        partition_by or [],
        obs.get["rows"],
        snapshot_id,
    )


def reader_schema(schema: StructType, partition_by: list[str]) -> StructType:
    """The schema spark.read.parquet infers for a table written from
    `schema` partitioned by `partition_by`: every field nullable (parquet
    stores them so) and the partition columns last, in `partition_by`
    order. Partition columns keep their written type, so a writer writes
    them in the type partition discovery infers from their directory
    names: int for a hash bucket, string for a name."""
    nullable = re.sub(
        r'"(nullable|containsNull|valueContainsNull)": false',
        r'"\1": true',
        json.dumps(schema.jsonValue()),
    )
    fields = {f.name: f for f in StructType.fromJson(json.loads(nullable)).fields}
    return StructType(
        [f for name, f in fields.items() if name not in partition_by]
        + [fields[name] for name in partition_by]
    )


def write_manifest(
    path: str,
    schema: StructType,
    partition_by: list[str],
    row_count: int,
    snapshot_id: str | None = None,
) -> dict:
    """Write the `_manifest.json` read_table reads: `schema` must be the
    one a reader of `path` sees (partition columns last)."""
    import hashlib

    manifest = {
        "format_version": "parquet-manifest-1",
        "schema": schema.jsonValue(),
        "partition_spec": partition_by,
        "snapshot_id": snapshot_id
        or hashlib.sha256(schema.simpleString().encode()).hexdigest()[:16],
        "row_count": row_count,
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by write_table with its manifest's schema, so
    no schema-inference job runs; tables without a manifest are inferred."""
    manifest = read_manifest(path)
    reader = spark.read
    if manifest is not None:
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.parquet(path)


def read_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_manifest.json")) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
