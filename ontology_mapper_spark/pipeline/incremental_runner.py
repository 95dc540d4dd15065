"""End-to-end incremental KG pipeline: detect → link → canonicalize →
materialize, each stage touching only the buckets its delta dirties.

This is the trickle-batch counterpart of runner.PipelineRunner (which is
stage-granular: a stage either skips wholesale or recomputes wholesale).
Here a batch that adds a handful of conversations and xref edges costs
work proportional to the delta:

* detect/link — per-bucket fingerprints gate recomputation
  (pipeline/incremental.py);
* canonicalize — delta edges contract onto the existing component
  labeling (pipeline/incremental_cc.incremental_components);
* materialize — changed link buckets re-extract triples with bucket-local
  dedup; compact_triples restores global set semantics at read
  (pipeline/incremental_cc.incremental_materialize).

Layout under `out_dir`: mentions/ links/ canonical_labels/ triples/, each
parquet partitioned by bucket (canonical by node-hash bucket) with its own
marker files — so batches are restartable mid-chain: a crashed stage
recomputes only what its marker says is stale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .incremental import incremental_detect, incremental_link
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
    from .mention_detect import build_dictionary

    os.makedirs(out_dir, exist_ok=True)
    m_path = os.path.join(out_dir, "mentions")
    l_path = os.path.join(out_dir, "links")
    c_path = os.path.join(out_dir, "canonical_labels")
    t_path = os.path.join(out_dir, "triples")

    summary: dict = {}
    pats = build_dictionary(terms)
    summary["detect"] = incremental_detect(
        spark, transcripts, pats, m_path, buckets=buckets
    )
    summary["link"] = incremental_link(
        spark, m_path, terms, l_path, dict_version=dict_version
    )

    if xref_delta is not None:
        if not os.path.exists(os.path.join(c_path, "_SUCCESS")) and not any(
            d.startswith("bucket=") for d in (
                os.listdir(c_path) if os.path.isdir(c_path) else []
            )
        ):
            # bootstrap: first batch runs the full CC and seeds the table
            labels = connected_components(
                xref_delta, local_threshold=LOCAL_CC_THRESHOLD
            )
            write_component_labels(labels, c_path, buckets=buckets)
            summary["canonicalize"] = {
                "bootstrap": True,
                "n_nodes": labels.count(),
            }
        else:
            summary["canonicalize"] = incremental_components(
                spark, c_path, xref_delta, buckets=buckets
            )
    else:
        summary["canonicalize"] = {"skipped": True}

    summary["materialize"] = incremental_materialize(
        spark, l_path, t_path, run_ts=run_ts
    )
    summary["edges"] = incremental_edges(
        spark, l_path, os.path.join(out_dir, "edges"), window_turns=2
    )
    return summary
