"""Stage-granular, checkpoint-resumable KG pipeline runner (north_rule).

Replaces the reference's two-tier TTL cache (cache/cache_manager.py:80-170)
with what caching means for a distributed batch pipeline: each stage
(mention-detect → link-score → canonicalize → materialize) writes its
output table once, tagged with a deterministic **fingerprint** of
(code version, stage params, upstream fingerprints). A re-run skips every
stage whose committed output carries the expected fingerprint — the
analogue of a cache hit keyed by sha256 of normalized inputs
(cache/cache_manager.py:41-54) — and recomputes from the first stage whose
inputs changed. Failed stages leave no committed fingerprint, mirroring
the reference's error-bypass rule of never caching failures
(services/bioportal.py:95-98): the marker file is written last, after
Spark's write job has committed the data files and the manifest is on
disk. That ordering is the only guarantee — nothing is fsynced, so a
crashed process never leaves a marker over a half-written table, but a
host crash can lose files written just before it.

Every table the runner owns (the four stages, plus `snapshot_xrefs`,
`edges` and `nodes`, which ride on their parent stage's fingerprint and
event) is written by catalog.write_table and read by catalog.read_table —
catalog.py is the only seam to swap for an Iceberg catalog on a real
cluster. Each stage reads its upstream table whole, so transcripts,
mentions and links are written unpartitioned, a few files each;
`snapshot` is partitioned by ontology and `materialize` by pred_group.
Detect's pattern list and link's decision table come from one
link_score.Dictionary per run, whose single terms collect runs only if
one of the two stages does. At the end
of `run()` one driver-side parquet file lands under `_metrics`: a row per
stage that ran (stage, n_rows, wall_s, run_ts, code_version), with n_rows
the row count observed on the stage's write — no Spark job of its own.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from .link_score import Dictionary

CODE_VERSION = "r1.1"  # bump to invalidate all stage caches

MARKER = "_FINGERPRINT.json"

STAGES = ("snapshot", "transcripts", "mention_detect", "link_score",
          "canonicalize", "materialize")


def _fingerprint(*parts: str) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:24]


def _committed(path: str) -> str | None:
    marker = os.path.join(path, MARKER)
    if not os.path.exists(marker):
        return None
    try:
        with open(marker) as fh:
            return json.load(fh)["fingerprint"]
    except (OSError, KeyError, json.JSONDecodeError):
        return None


def _commit(path: str, fingerprint: str, meta: dict) -> None:
    with open(os.path.join(path, MARKER), "w") as fh:
        json.dump({"fingerprint": fingerprint, **meta}, fh)


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_convs: int = 500,
        n_terms: int = 200,
        seed: int = 42,
        run_ts: str = "1970-01-01T00:00:00",
        resume: bool = False,
    ) -> None:
        self.spark = spark
        self.out = out_dir
        self.n_convs = n_convs
        self.n_terms = n_terms
        self.seed = seed
        self.run_ts = run_ts
        self.resume = resume
        self.events: list[dict] = []
        self._metrics: list[dict] = []
        os.makedirs(out_dir, exist_ok=True)

    # -- plumbing ----------------------------------------------------------

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.out, stage)

    def _table(
        self,
        stage: str,
        fingerprint: str,
        build: "callable",
        partition_by: list[str] | None = None,
        event: bool = True,
    ) -> DataFrame:
        """The table `stage`, written once per fingerprint: on resume a
        committed matching marker skips the build, otherwise build() is
        written through catalog.write_table and the marker committed
        last. `event=False` for side tables, which belong to their
        parent stage's event."""
        path = self._stage_dir(stage)
        if self.resume and _committed(path) == fingerprint:
            if event:
                self.events.append({"stage": stage, "status": "skipped", "sec": 0.0})
            return catalog.read_table(self.spark, path)
        t0 = time.time()
        manifest = catalog.write_table(
            build(), path, partition_by=partition_by, snapshot_id=fingerprint
        )
        _commit(path, fingerprint, {"stage": stage, "run_ts": self.run_ts})
        wall_s = time.time() - t0
        if event:
            self.events.append(
                {"stage": stage, "status": "ran", "sec": round(wall_s, 2)}
            )
            self._metrics.append({
                "stage": stage,
                "n_rows": manifest["row_count"],
                "wall_s": round(wall_s, 3),
                "run_ts": self.run_ts,
                "code_version": CODE_VERSION,
            })
        return catalog.read_table(self.spark, path)

    def _write_metrics(self) -> None:
        """This run's `_metrics` rows as one parquet file, written from the
        driver (pyarrow, no Spark job); runs append files."""
        if not self._metrics:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.out, "_metrics")
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(self._metrics),
            os.path.join(path, f"run-{uuid.uuid4().hex}.parquet"),
        )

    # -- stages ------------------------------------------------------------

    def snapshot(self) -> tuple[DataFrame, DataFrame]:
        from ..datagen.snapshot import build_snapshot

        fp = _fingerprint(CODE_VERSION, "snapshot", str(self.n_terms), str(self.seed))
        built = functools.cache(
            lambda: build_snapshot(self.spark, self.n_terms, self.seed)
        )
        terms = self._table(
            "snapshot", fp, lambda: built()[0], partition_by=["ontology"]
        )
        xrefs = self._table("snapshot_xrefs", fp, lambda: built()[1], event=False)
        return terms, xrefs

    def transcripts(self) -> DataFrame:
        from ..datagen.snapshot import ontology_terms_rows
        from ..datagen.transcripts import build_transcripts

        fp = _fingerprint(
            CODE_VERSION, "transcripts", str(self.n_convs), str(self.seed),
            str(self.n_terms),
        )

        def build() -> DataFrame:
            labels = sorted(
                {r["label"] for r in ontology_terms_rows(self.n_terms, self.seed)}
            )
            return build_transcripts(
                self.spark, n_convs=self.n_convs, seed=self.seed,
                mention_labels=labels,
            )

        return self._table("transcripts", fp, build)

    def mention_detect(self, dictionary: Dictionary, transcripts: DataFrame) -> DataFrame:
        from .mention_detect import detect_mentions

        fp = _fingerprint(
            CODE_VERSION, "mention_detect",
            _committed(self._stage_dir("snapshot")) or "",
            _committed(self._stage_dir("transcripts")) or "",
        )
        return self._table(
            "mention_detect", fp,
            lambda: detect_mentions(self.spark, transcripts, dictionary.patterns),
        )

    def link_score(self, dictionary: Dictionary, mentions: DataFrame) -> DataFrame:
        fp = _fingerprint(
            CODE_VERSION, "link_score",
            _committed(self._stage_dir("snapshot")) or "",
            _committed(self._stage_dir("mention_detect")) or "",
        )
        return self._table(
            "link_score", fp, lambda: dictionary.link(mentions, dictionary.idf)
        )

    def canonicalize(self, terms: DataFrame, xrefs: DataFrame) -> DataFrame:
        from .canonicalize import canonical_mapping

        fp = _fingerprint(
            CODE_VERSION, "canonicalize",
            _committed(self._stage_dir("snapshot")) or "",
        )
        return self._table(
            "canonicalize", fp, lambda: canonical_mapping(terms, xrefs)
        )

    def materialize(self, links: DataFrame, canonical: DataFrame) -> DataFrame:
        from .comention import comention_edges
        from .materialize import extract_triples

        fp = _fingerprint(
            CODE_VERSION, "materialize", self.run_ts,
            _committed(self._stage_dir("link_score")) or "",
            _committed(self._stage_dir("canonicalize")) or "",
        )

        def build() -> DataFrame:
            triples = extract_triples(links, run_ts=self.run_ts)
            return triples.withColumn(
                "pred_group",
                F.when(
                    F.col("pred").startswith("skos:") & F.col("pred").endswith("Match"),
                    "mapping",
                ).otherwise("metadata"),
            )

        def nodes() -> DataFrame:
            # canonical entities with their mention stats
            canon_links = links.join(
                F.broadcast(canonical), "class_iri", "left"
            ).withColumn("entity_id", F.coalesce("canonical_iri", "class_iri"))
            return canon_links.groupBy("entity_id").agg(
                F.count("*").alias("n_mentions"),
                F.approx_count_distinct("conv_id").alias("n_convs"),
                F.min("label").alias("any_label"),
            )

        # triples partitioned by pred_group: pred has ~8 distinct values,
        # and mapping-only scans (the dominant access) prune for free
        triples = self._table("materialize", fp, build, partition_by=["pred_group"])
        self._table(
            "edges", fp, lambda: comention_edges(links, window_turns=2), event=False
        )
        self._table("nodes", fp, nodes, event=False)
        return triples

    # -- orchestration -----------------------------------------------------

    def run(self, stages: list[str] | None = None) -> dict:
        wanted = set(stages or STAGES)
        terms, xrefs = self.snapshot()
        tr = self.transcripts()
        # collected by the first stage that runs and needs it, once
        dictionary = Dictionary(terms)
        mentions = (
            self.mention_detect(dictionary, tr) if "mention_detect" in wanted else None
        )
        links = (
            self.link_score(dictionary, mentions)
            if "link_score" in wanted and mentions is not None
            else None
        )
        canonical = self.canonicalize(terms, xrefs) if "canonicalize" in wanted else None
        if "materialize" in wanted and links is not None and canonical is not None:
            self.materialize(links, canonical)
        self._write_metrics()
        return {"events": self.events, "out": self.out}
