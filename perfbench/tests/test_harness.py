"""Self-test of the benchmark harness at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Checks that a traced run of each workload emits every per-layer metric
that BENCHMARK.json names, with its unit; that an untraced run emits the
end-to-end metrics; that corrupted outputs fail their checks; and that a
pass that raises is counted as failed while the run keeps going.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402

TINY = {
    "kg_build": {"n_convs": 50},
    "kg_incremental": {"n_convs": 60, "n_new": 8},
    "query_suite": {"sf": 0.001},
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module")
def env():
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.configure_env(work)
    spark = run.start_spark()
    yield spark, work
    run.stop_spark(spark, work)


def make(env, name, tracer, cls=None):
    import workloads

    spark, work = env
    cls = cls or workloads.WORKLOADS[name]
    out = os.path.join(work, f"{name}-{time.monotonic_ns()}")
    return cls(spark, out, 5, tracer, **TINY[name])


def emitted(res: dict, trace: bool) -> dict:
    line = run.result_line(res, trace)
    return json.loads(line)["metrics"]


@pytest.mark.parametrize("name", sorted(TINY))
def test_traced_run_emits_every_per_layer_metric(env, name):
    from spans import Tracer
    from workloads import trace_engine

    tracer = Tracer()
    tracer.sc = env[0].sparkContext
    trace_engine(tracer)
    res = run.measure(make(env, name, tracer), tracer, 0, True, time.perf_counter())
    assert res["correct"] and res["failed"] == 0
    metrics = emitted(res, trace=True)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        k: v["unit"] for k, v in metrics.items()
    }
    # every layer the workload exercises shows up with non-zero work
    layer_of = {
        "kg_build": ("runner.materialize_s", "catalog.write_table_calls", "spark.jobs"),
        "kg_incremental": ("incremental.detect_s", "incremental.changed_buckets",
                           "incremental.useful_ratio"),
        "query_suite": ("query.q34_mention_detect_s",
                        "mention_detect.detect_mentions_calls", "spark.tasks"),
    }
    for metric in layer_of[name]:
        assert metrics[metric]["value"] > 0, metric


def test_untraced_run_emits_end_to_end_metrics(env):
    from spans import NullTracer

    res = run.measure(make(env, "query_suite", NullTracer()), NullTracer(), 0, False,
                      time.perf_counter())
    assert res["correct"] and res["attempted"] >= run.MIN_PASSES
    metrics = emitted(res, trace=False)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == {
        k: v["unit"] for k, v in metrics.items()
    }
    assert all(v["value"] > 0 for v in metrics.values())


def test_dropped_triple_fails_kg_build_check(env):
    from spans import NullTracer

    spark = env[0]
    wl = make(env, "kg_build", NullTracer())
    wl.setup()
    out = os.path.join(wl.work, "pass")
    wl.prepare(out)
    result = wl.run(out)
    assert wl.check(out, result) == []

    triples = os.path.join(out, "materialize")
    kept = spark.read.parquet(triples)
    dropped = kept.exceptAll(kept.limit(1))
    dropped.write.partitionBy("pred_group").parquet(triples + ".tmp")
    shutil.rmtree(triples)
    os.rename(triples + ".tmp", triples)
    problems = wl.check(out, result)
    assert len(problems) == 1 and problems[0].startswith("triples")


def test_dropped_row_fails_query_suite_check(env):
    from spans import NullTracer

    wl = make(env, "query_suite", NullTracer())
    wl.setup()
    wl.run("")
    assert wl.check("", None) == []
    real = wl.queries["q25_exact_dedup"]
    wl.queries = {**wl.queries, "q25_exact_dedup": lambda s, d: real(s, d).limit(1)}
    problems = wl.check("", None)
    assert len(problems) == 1 and problems[0].startswith("q25_exact_dedup")


def test_raising_pass_is_counted_and_run_continues(env):
    from spans import NullTracer

    import workloads

    class FlakySuite(workloads.QuerySuite):
        calls = 0

        def run(self, out):
            FlakySuite.calls += 1
            if FlakySuite.calls == 2:  # the first timed pass
                raise RuntimeError("injected failure")
            return super().run(out)

    wl = make(env, "query_suite", NullTracer(), cls=FlakySuite)
    res = run.measure(wl, NullTracer(), 0, False, time.perf_counter())
    assert res["failed"] == 1 and res["attempted"] == run.MIN_PASSES + 1
    assert res["correct"]  # the last pass's output still checks out
