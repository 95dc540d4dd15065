#!/usr/bin/env python
"""spark-submit entry for the KG construction pipeline.

    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --out /data/kg --n-convs 100000 --resume

Local sandbox:

    python jobs/run_pipeline.py --out /tmp/kgout
    python jobs/run_pipeline.py --out /tmp/kgout --resume

The snapshot and the transcripts are synthetic, generated from --seed,
--n-terms and --n-convs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", default="all",
                    help="comma list of stages or 'all'")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--n-convs", type=int, default=500)
    ap.add_argument("--n-terms", type=int, default=200)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--run-ts", default="1970-01-01T00:00:00")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--incremental", action="store_true",
        help="bucket-incremental trickle-batch mode: recompute only the "
        "buckets whose transcripts changed (detect/link/materialize/"
        "edges) and merge xref deltas into the component labels",
    )
    ap.add_argument("--dict-version", default="v1",
                    help="incremental mode: bump when the snapshot changes")
    args = ap.parse_args()

    from ontology_mapper_spark.pipeline.runner import STAGES, PipelineRunner
    from ontology_mapper_spark.session import get_spark

    spark = get_spark(app_name="kg-pipeline", master=args.master)

    if args.incremental:
        from ontology_mapper_spark.datagen import build_snapshot, build_transcripts
        from ontology_mapper_spark.datagen.snapshot import ontology_terms_rows
        from ontology_mapper_spark.pipeline.incremental_runner import (
            run_incremental_batch,
        )

        terms, xrefs = build_snapshot(spark, args.n_terms, args.seed)
        labels = sorted(
            {r["label"] for r in ontology_terms_rows(args.n_terms, args.seed)}
        )
        tr = build_transcripts(
            spark, n_convs=args.n_convs, seed=args.seed, mention_labels=labels
        )
        summary = run_incremental_batch(
            spark, tr, terms, xrefs,
            out_dir=args.out, dict_version=args.dict_version,
            run_ts=args.run_ts,
        )
        print(json.dumps(summary))
        return 0

    stages = list(STAGES) if args.stage == "all" else args.stage.split(",")
    runner = PipelineRunner(
        spark,
        out_dir=args.out,
        n_convs=args.n_convs,
        n_terms=args.n_terms,
        seed=args.seed,
        run_ts=args.run_ts,
        resume=args.resume,
    )
    result = runner.run(stages)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
