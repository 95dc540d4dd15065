"""End-to-end incremental KG pipeline: detect → link → canonicalize →
materialize, each stage touching only the buckets its delta dirties.

This is the trickle-batch counterpart of runner.PipelineRunner (which is
stage-granular: a stage either skips wholesale or recomputes wholesale).
Here a batch that adds a handful of conversations and xref edges costs
work proportional to the delta:

* detect/link — per-bucket markers gate recomputation
  (pipeline/incremental.py);
* canonicalize — delta edges contract onto the existing component
  labeling (pipeline/incremental_cc.incremental_components);
* materialize/edges — changed link buckets re-extract triples and partial
  co-mention counts with bucket-local set semantics; compact_triples and
  compact_edges restore global ones at read (pipeline/incremental_cc).

Layout under `out_dir`: mentions/ links/ triples/ edges/ (parquet
partitioned by conv_id-hash bucket) and canonical_labels/ (by node-hash
bucket), each written by incremental.write_buckets with a `_manifest.json`
and a `_BUCKET_FINGERPRINTS.json` marker, committed after the data:

* mentions/ — hash(transcript content fingerprint of the bucket, pattern
  list);
* links/ — hash(mentions' marker value, dict_version);
* triples/ — hash(links' marker value, run_ts);
* edges/ — hash(links' marker value, window_turns);
* canonical_labels/ — the content fingerprint of the bucket's (node,
  component) rows, verified before every merge.

So batches are restartable mid-chain: a stage that died before its marker
committed recomputes its stale buckets on the next batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import read_manifest
from .incremental import incremental_detect, incremental_link, load_marker
from .incremental_cc import (
    incremental_components,
    incremental_edges,
    incremental_materialize,
    write_component_labels,
)


def run_incremental_batch(
    spark: SparkSession,
    transcripts: DataFrame,
    terms: DataFrame,
    xref_delta: DataFrame | None,
    out_dir: str,
    dict_version: str = "v1",
    buckets: int = 32,
    run_ts: str = "1970-01-01T00:00:00",
) -> dict:
    """Process one batch: `transcripts` is the CURRENT full corpus view
    (fingerprints find what changed), `xref_delta` holds only NEW identity
    edges (None/empty when the snapshot didn't change). Returns per-stage
    delta summaries."""
    from .canonicalize import LOCAL_CC_THRESHOLD, connected_components
    from .link_score import Dictionary

    os.makedirs(out_dir, exist_ok=True)
    m_path = os.path.join(out_dir, "mentions")
    l_path = os.path.join(out_dir, "links")
    c_path = os.path.join(out_dir, "canonical_labels")

    # one terms collect per batch: detect's patterns and link's table
    dictionary = Dictionary(terms)
    summary: dict = {}
    summary["detect"] = incremental_detect(
        spark, transcripts, dictionary.patterns, m_path, buckets=buckets
    )
    summary["link"] = incremental_link(
        spark, m_path, dictionary, l_path, dict_version=dict_version
    )

    if xref_delta is None:
        summary["canonicalize"] = {"skipped": True}
    elif not load_marker(c_path) and read_manifest(c_path) is None:
        # bootstrap: the first batch with edges runs the full CC and seeds
        # the table
        labels = connected_components(xref_delta, local_threshold=LOCAL_CC_THRESHOLD)
        summary["canonicalize"] = {
            "bootstrap": True,
            "n_nodes": write_component_labels(labels, c_path, buckets=buckets),
        }
    else:
        summary["canonicalize"] = incremental_components(
            spark, c_path, xref_delta, buckets=buckets
        )

    summary["materialize"] = incremental_materialize(
        spark, l_path, os.path.join(out_dir, "triples"), run_ts=run_ts
    )
    summary["edges"] = incremental_edges(
        spark, l_path, os.path.join(out_dir, "edges"), window_turns=2
    )
    return summary
