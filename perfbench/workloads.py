"""The three benchmark workloads.

Each workload is one client running one operation at a time:

* `setup()` builds the inputs from the seed (timed into `setup_s`);
* `prepare(out)` readies a fresh output dir for a pass (untimed);
* `run(out)` is the timed operation;
* `check(out, result)` returns the problems found in a pass's outputs,
  compared against a from-scratch composition of the engine's functions.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spans import NullTracer, Tracer

RUN_TS = "2026-01-01T00:00:00"
N_TERMS = 200
BUCKETS = 32  # run_incremental_batch's default bucket count


def du(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _link_or_copy(src: str, dst: str) -> None:
    # Spark never rewrites a data file in place, so a pass may share the
    # set-up's parquet files; markers and checksums are rewritten, so copy.
    if src.endswith(".parquet"):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


def restore(src: str, dst: str) -> None:
    """Give a pass its own copy of the set-up's table directory `src`."""
    shutil.copytree(src, dst, copy_function=_link_or_copy)


def digest(df: DataFrame, cols: list[str], distinct: bool = False) -> tuple[int, int]:
    """Order-independent (row count, sum of row hashes) over `cols`."""
    cols = sorted(cols)
    d = df.select(*cols)
    if distinct:
        d = d.distinct()
    row = d.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def compare(problems: list[str], what: str, got: DataFrame, want: DataFrame,
            distinct: bool = False) -> None:
    cols = want.columns
    missing = set(cols) - set(got.columns)
    if missing:
        problems.append(f"{what}: output lacks columns {sorted(missing)}")
        return
    g, w = digest(got, cols, distinct), digest(want, cols, distinct)
    if g != w:
        problems.append(f"{what}: {g[0]} rows (hash {g[1]}) != expected {w[0]} rows (hash {w[1]})")


def trace_engine(tracer: Tracer) -> None:
    """Register the engine's public functions, patched where callers look
    them up.  `incremental_runner` imports its stage functions by name, so
    they are patched in that module."""
    from ontology_mapper_spark import catalog
    from ontology_mapper_spark.pipeline import (
        comention,
        incremental_runner,
        link_score,
        materialize,
        mention_detect,
    )
    from ontology_mapper_spark.pipeline.runner import PipelineRunner

    def written(tr, args, kwargs, _result):
        path = kwargs["path"] if "path" in kwargs else args[1]
        # sized after the pass, so the file walk counts in none of its spans
        tr.defer(lambda: tr.add("catalog.written_mb", du(path) / (1024.0 * 1024.0)))

    def changed(tr, _args, _kwargs, result):
        tr.add("incremental.changed_buckets", len(result["changed_buckets"]))

    tracer.wrap(catalog, "write_table", "catalog.write_table", after=written)
    for stage in ("mention_detect", "link_score", "canonicalize", "materialize"):
        tracer.wrap(PipelineRunner, stage, f"runner.{stage}")
    tracer.wrap(mention_detect, "build_dictionary", "mention_detect.build_dictionary")
    tracer.wrap(mention_detect, "detect_mentions", "mention_detect.detect_mentions", lazy=True)
    tracer.wrap(link_score, "dictionary_idf", "link_score.dictionary_idf")
    tracer.wrap(link_score, "rank_dictionary", "link_score.rank_dictionary", lazy=True)
    tracer.wrap(link_score, "link_mentions", "link_score.link_mentions", lazy=True)
    tracer.wrap(materialize, "extract_triples", "materialize.extract_triples", lazy=True)
    tracer.wrap(comention, "comention_edges", "comention.comention_edges", lazy=True)
    tracer.wrap(incremental_runner, "incremental_detect", "incremental.detect", after=changed)
    tracer.wrap(incremental_runner, "incremental_link", "incremental.link")
    tracer.wrap(incremental_runner, "incremental_components", "incremental_cc.components")
    tracer.wrap(incremental_runner, "incremental_materialize", "incremental_cc.materialize")
    tracer.wrap(incremental_runner, "incremental_edges", "incremental_cc.edges")


class Workload:
    name = ""
    warmup_passes = 1

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 tracer: NullTracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, out: str) -> None:
        pass

    def run(self, out: str):
        raise NotImplementedError

    def check(self, out: str, result) -> list[str]:
        raise NotImplementedError

    def inputs(self) -> dict:
        """Input sizes, recorded with the result (read after timing)."""
        raise NotImplementedError

    def layer_extras(self, result) -> dict[str, float]:
        return {}


class _KgWorkload(Workload):
    """Snapshot (200 terms) and `n_convs` conversations of transcripts,
    generated from the seed and materialized under `<work>/base`."""

    input_dirs: tuple[str, ...] = ()

    def __init__(self, spark, work, seed, tracer, n_convs: int) -> None:
        super().__init__(spark, work, seed, tracer)
        self.n_convs = n_convs
        self.base = os.path.join(work, "base")

    def inputs(self) -> dict:
        return {
            "conversations": self.n_convs,
            "turns": self.transcripts.count(),
            "input_bytes": sum(du(os.path.join(self.base, d)) for d in self.input_dirs),
        }


class KgBuild(_KgWorkload):
    """`PipelineRunner(..., resume=True).run()` over pre-materialized
    snapshot and transcripts: the four KG stages plus edges/nodes."""

    name = "kg_build"
    input_dirs = ("snapshot", "snapshot_xrefs", "transcripts")

    def __init__(self, spark, work, seed, tracer, n_convs: int = 1000) -> None:
        super().__init__(spark, work, seed, tracer, n_convs)

    def _runner(self, out: str):
        from ontology_mapper_spark.pipeline.runner import PipelineRunner

        return PipelineRunner(
            self.spark, out, n_convs=self.n_convs, n_terms=N_TERMS,
            seed=self.seed, run_ts=RUN_TS, resume=True,
        )

    def setup(self) -> None:
        # the runner's own snapshot/transcripts stages, so that every pass
        # resumes from their committed fingerprints
        runner = self._runner(self.base)
        with self.tracer.span("datagen.snapshot"):
            runner.snapshot()
        with self.tracer.span("datagen.transcripts"):
            runner.transcripts()
        read = self.spark.read.parquet
        self.terms = read(os.path.join(self.base, "snapshot"))
        self.transcripts = read(os.path.join(self.base, "transcripts"))

    def prepare(self, out: str) -> None:
        for stage in self.input_dirs:
            restore(os.path.join(self.base, stage), os.path.join(out, stage))

    def run(self, out: str):
        runner = self._runner(out)
        with self.tracer.span("runner.run"):
            return runner.run()

    def check(self, out: str, result) -> list[str]:
        from ontology_mapper_spark.pipeline import (
            build_dictionary,
            detect_mentions,
            extract_triples,
            link_mentions,
        )
        from ontology_mapper_spark.pipeline.link_score import dictionary_idf

        problems: list[str] = []
        ran = {e["stage"] for e in result["events"] if e["status"] == "ran"}
        want_ran = {"mention_detect", "link_score", "canonicalize", "materialize"}
        if ran != want_ran:
            problems.append(f"stages ran {sorted(ran)}, expected {sorted(want_ran)}")
        mentions = detect_mentions(
            self.spark, self.transcripts, build_dictionary(self.terms)
        )
        links = link_mentions(
            self.spark, mentions, self.terms, idf=dictionary_idf(self.terms)
        ).cache()
        read = self.spark.read.parquet
        compare(problems, "links", read(os.path.join(out, "link_score")), links)
        compare(problems, "triples", read(os.path.join(out, "materialize")),
                extract_triples(links, run_ts=RUN_TS))
        links.unpersist()
        return problems


class KgIncremental(_KgWorkload):
    """`run_incremental_batch` adding `n_new` conversations and one xref
    edge to a base state built in set-up from the rest of the corpus."""

    name = "kg_incremental"
    # The base-state build warms detect/link/materialize but not the delta
    # path of incremental_components, so one restore-and-add pass follows.
    input_dirs = ("terms", "xrefs", "transcripts")

    def __init__(self, spark, work, seed, tracer, n_convs: int = 500,
                 n_new: int = 8) -> None:
        super().__init__(spark, work, seed, tracer, n_convs)
        self.n_new = n_new
        self.state = os.path.join(work, "state")

    def setup(self) -> None:
        from ontology_mapper_spark.datagen import build_snapshot, build_transcripts
        from ontology_mapper_spark.datagen.snapshot import ontology_terms_rows
        from ontology_mapper_spark.pipeline import (
            build_dictionary,
            detect_mentions,
            link_mentions,
        )
        from ontology_mapper_spark.pipeline.incremental_runner import (
            run_incremental_batch,
        )

        path = functools.partial(os.path.join, self.base)
        read = self.spark.read.parquet
        with self.tracer.span("datagen.snapshot"):
            terms, xrefs = build_snapshot(self.spark, N_TERMS, self.seed)
            terms.write.parquet(path("terms"))
            xrefs.write.parquet(path("xrefs"))
        with self.tracer.span("datagen.transcripts"):
            labels = sorted({r["label"] for r in ontology_terms_rows(N_TERMS, self.seed)})
            build_transcripts(
                self.spark, n_convs=self.n_convs, seed=self.seed, mention_labels=labels
            ).write.parquet(path("transcripts"))
        self.terms, self.xrefs = read(path("terms")), read(path("xrefs"))
        self.transcripts = read(path("transcripts"))

        # The new conversations each link at least one term and fall in
        # n_new distinct buckets, so with every seed each stage recomputes
        # n_new buckets (a conversation without links leaves its bucket's
        # links, triples and edges untouched).
        self.corpus = self.transcripts.select("conv_id", "turn_idx", "text")
        linked = link_mentions(
            self.spark,
            detect_mentions(self.spark, self.corpus, build_dictionary(self.terms)),
            self.terms,
        )
        by_bucket: dict[int, list[str]] = {}
        for r in linked.select(
            "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS)).alias("b")
        ).distinct().collect():
            by_bucket.setdefault(int(r["b"]), []).append(r["conv_id"])
        rng = random.Random(self.seed)
        self.new_ids = sorted(
            rng.choice(sorted(by_bucket[b]))
            for b in rng.sample(sorted(by_bucket), self.n_new)
        )
        base = self.corpus.where(~F.col("conv_id").isin(self.new_ids))
        run_incremental_batch(
            self.spark, base, self.terms, self.xrefs, self.state,
            buckets=BUCKETS, run_ts=RUN_TS,
        )
        # the new edge joins two of the small components (not the giant one
        # through the hot term), so every seed merges a few nodes
        labels = sorted(
            (r["node"], r["component"])
            for r in read(os.path.join(self.state, "canonical_labels")).collect()
        )
        sizes = Counter(comp for _, comp in labels)
        giant = sizes.most_common(1)[0][0]
        small = [lab for lab in labels if lab[1] != giant]
        src = rng.choice(small)
        dst = rng.choice([lab for lab in small if lab[1] != src[1]])
        self.delta = self.spark.createDataFrame(
            [(src[0], dst[0])], "src_iri string, dst_iri string"
        )

    def prepare(self, out: str) -> None:
        restore(self.state, out)

    def run(self, out: str):
        from ontology_mapper_spark.pipeline.incremental_runner import (
            run_incremental_batch,
        )

        return run_incremental_batch(
            self.spark, self.corpus, self.terms, self.delta, out,
            buckets=BUCKETS, run_ts=RUN_TS,
        )

    def _new_buckets(self) -> list[int]:
        rows = (
            self.spark.createDataFrame([(c,) for c in self.new_ids], "conv_id string")
            .select(F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS)).alias("b"))
            .distinct()
            .collect()
        )
        return sorted(int(r["b"]) for r in rows)

    def check(self, out: str, result) -> list[str]:
        from ontology_mapper_spark.pipeline import (
            build_dictionary,
            comention_edges,
            connected_components,
            detect_mentions,
            extract_triples,
            link_mentions,
        )
        from ontology_mapper_spark.pipeline.incremental_cc import (
            compact_edges,
            compact_triples,
        )

        problems: list[str] = []
        got_buckets = result["detect"]["changed_buckets"]
        if got_buckets != self._new_buckets():
            problems.append(
                f"changed_buckets {got_buckets} != buckets of the new "
                f"conversations {self._new_buckets()}"
            )
        mentions = detect_mentions(
            self.spark, self.corpus, build_dictionary(self.terms)
        )
        links = link_mentions(self.spark, mentions, self.terms, idf=None).cache()
        link_cols = ["conv_id", "turn_idx", "begin", "end", "pattern",
                     "class_iri", "rank"]
        read = self.spark.read.parquet
        compare(problems, "links", read(os.path.join(out, "links")),
                links.select(*link_cols), distinct=True)
        compare(problems, "triples", compact_triples(self.spark, os.path.join(out, "triples")),
                extract_triples(links, run_ts=RUN_TS), distinct=True)
        compare(problems, "edges", compact_edges(self.spark, os.path.join(out, "edges")),
                comention_edges(links, window_turns=2), distinct=True)
        edges = self.xrefs.select("src_iri", "dst_iri").unionByName(self.delta)
        compare(problems, "canonical labels",
                read(os.path.join(out, "canonical_labels")),
                connected_components(edges).select("node", "component"), distinct=True)
        links.unpersist()
        return problems

    def layer_extras(self, result) -> dict[str, float]:
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS))
        redetected = self.corpus.where(
            bucket.isin(result["detect"]["changed_buckets"])
        ).count()
        delta = self.corpus.where(F.col("conv_id").isin(self.new_ids)).count()
        return {
            "incremental.redetected_turns": redetected,
            "incremental.useful_ratio": delta / redetected if redetected else 0.0,
        }


class QuerySuite(Workload):
    """The twelve `bench.HEADLINE` contract queries, each written to the
    `noop` sink in a fixed order, over seeded tables."""

    name = "query_suite"

    def __init__(self, spark, work, seed, tracer, sf: float = 0.02) -> None:
        super().__init__(spark, work, seed, tracer)
        self.sf = sf
        self.sf_dir = os.path.join(work, "tables")

    def setup(self) -> None:
        from bench import HEADLINE
        from ontology_mapper_spark.contract import ORACLES, QUERIES
        from tables import write_tables

        self.names = list(HEADLINE)
        self.queries, self.oracles = QUERIES, ORACLES
        self.input_bytes = write_tables(self.sf_dir, self.sf, self.seed)

    def run(self, out: str):
        for name in self.names:
            with self.tracer.span(f"query.{name}"):
                df = self.queries[name](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()

    def check(self, out: str, result) -> list[str]:
        import duckdb
        from check_correctness import canon_rows, value_hash
        from tables import TABLES

        problems: list[str] = []
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.names:
                pdf = self.queries[name](self.spark, self.sf_dir).toPandas()
                got = canon_rows(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
                opdf = con.execute(self.oracles[name]).df()
                want = canon_rows(list(opdf.columns), list(opdf.itertuples(index=False, name=None)))
                if got[0] != want[0]:
                    problems.append(f"{name}: columns {got[0]} != oracle {want[0]}")
                elif (len(got[1]), value_hash(got[1])) != (len(want[1]), value_hash(want[1])):
                    problems.append(
                        f"{name}: {len(got[1])} rows != oracle {len(want[1])} rows or values differ"
                    )
        finally:
            con.close()
        return problems

    def inputs(self) -> dict:
        import pyarrow.parquet as pq
        from tables import TABLES

        rows = sum(
            pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        )
        return {"sf": self.sf, "rows": rows, "input_bytes": self.input_bytes}


WORKLOADS = {w.name: w for w in (KgBuild, KgIncremental, QuerySuite)}
