#!/usr/bin/env python3
"""Benchmark harness for the KG engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Runs one workload (see README.md) as a closed loop: one client, one
operation at a time, on `local[k]` with k = min(4, nproc) and shuffle
partitions = k, driver heap pinned to HEAP.  A run starts the session,
builds the inputs from the seed, runs the workload's untimed warm-up pass,
then timed passes until they add up to `--seconds` and MIN_PASSES
succeeded, checks the last pass's outputs, and prints each metric with its
unit followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}.

`--trace 0` reports the end-to-end metrics; `--trace 1` alternates traced
and untraced passes and reports the per-layer metrics instead.  Every file
the run writes stays under the checkout: scratch under .perfbench_work/
(removed at exit) and span dumps under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEAP = "1g"
MIN_PASSES = 2  # passes that must succeed, however short `--seconds` is
MAX_FAILED = 3  # a run gives up after this many failed passes

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

STAGES = ("mention_detect", "link_score", "canonicalize", "materialize")
SETUP_LAYERS = ("session.start_s", "datagen.snapshot_s", "datagen.transcripts_s")
# per-layer names whose per-pass aggregate key differs from the metric name
_SOURCE = {"runner.self_s": "runner.run_self_s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; one `query.<name>_s` per
    `bench.HEADLINE` query."""
    from bench import HEADLINE

    return {
        **{name: "s" for name in SETUP_LAYERS},
        **{f"runner.{s}_s": "s" for s in STAGES},
        **{f"runner.{s}_jobs": "count" for s in STAGES},
        "runner.self_s": "s",
        "catalog.write_table_s": "s",
        "catalog.write_table_calls": "count",
        "catalog.written_mb": "MB",
        "mention_detect.build_dictionary_s": "s",
        "mention_detect.detect_mentions_calls": "count",
        "proc.python_cpu_s": "s",
        "proc.jvm_cpu_s": "s",
        "link_score.dictionary_idf_s": "s",
        "link_score.rank_dictionary_calls": "count",
        "link_score.link_mentions_calls": "count",
        "materialize.extract_triples_calls": "count",
        "comention.comention_edges_calls": "count",
        "incremental.detect_s": "s",
        "incremental.link_s": "s",
        "incremental_cc.components_s": "s",
        "incremental_cc.materialize_s": "s",
        "incremental_cc.edges_s": "s",
        "incremental.changed_buckets": "count",
        "incremental.redetected_turns": "count",
        "incremental.useful_ratio": "ratio",
        **{f"query.{q}_s": "s" for q in HEADLINE},
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.output_mb": "MB",
        "spark.spill_mb": "MB",
        "trace.overhead_s": "s",
    }


def configure_env(work: str) -> None:
    """Keep the JVM, its Python workers and temp files inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    for path in (os.path.join(ROOT, "tools"), ROOT):
        if path not in sys.path:
            sys.path.insert(0, path)


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def start_spark():
    from ontology_mapper_spark.session import get_spark

    k = cores()
    return get_spark(app_name="perfbench", master=f"local[{k}]",
                     shuffle_partitions=k, driver_memory=HEAP)


def stop_spark(spark, work: str) -> None:
    """Stop the session and its JVM, wait for every child process to end,
    and delete `work`.  File deletion is slow on disks mounted with
    `discard`, so the scratch tree goes in a thread while Spark stops."""
    import threading

    from pyspark import SparkContext

    import procfs

    local = os.environ["SPARK_LOCAL_DIRS"]
    doomed = [os.path.join(work, d) for d in os.listdir(work)
              if os.path.join(work, d) != local]
    cleaner = threading.Thread(
        target=lambda: [shutil.rmtree(d, ignore_errors=True) for d in doomed]
    )
    cleaner.start()
    gateway = SparkContext._gateway
    children = [p for p in procfs.tree_pids() if p != os.getpid()]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    cleaner.join()
    shutil.rmtree(work, ignore_errors=True)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def measure(wl, tracer, seconds: float, trace: bool, t_start: float) -> dict:
    """Set up, warm up, time passes for `seconds`, check the last one.
    Returns {'correct', 'attempted', 'failed', 'metrics', 'inputs'}."""
    import procfs

    passes_dir = os.path.join(wl.work, "passes")
    state = {"n": 0, "kept": None, "result": None, "measured": 0.0}

    def one_pass(traced: bool) -> dict | None:
        out = os.path.join(passes_dir, f"p{state['n']}")
        state["n"] += 1
        os.makedirs(passes_dir, exist_ok=True)
        wl.prepare(out)
        tracer.pass_id = os.path.basename(out)
        cpu0 = procfs.cpu_seconds()
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.installed(), tracer.span("pass"):
                    result = wl.run(out)
            else:
                result = wl.run(out)
        except Exception:
            traceback.print_exc()
            shutil.rmtree(out, ignore_errors=True)
            return None
        finally:
            wall = time.perf_counter() - t0
            state["measured"] += wall
            cpu1 = procfs.cpu_seconds()
            tracer.pass_id = "setup"
        if state["kept"]:
            shutil.rmtree(state["kept"], ignore_errors=True)
        state["kept"], state["result"] = out, result
        rec = {
            "wall": wall,
            "cpu": sum(cpu1.values()) - sum(cpu0.values()),
            "traced": traced,
        }
        if traced:
            pid = os.path.basename(out)
            tracer.run_deferred()
            tracer.collect_jobs(pid)
            rec["layers"] = tracer.pass_metrics(pid)
            rec["layers"].update(tracer.spark_stats(pid))
            rec["layers"]["proc.python_cpu_s"] = cpu1["python"] - cpu0["python"]
            rec["layers"]["proc.jvm_cpu_s"] = cpu1["jvm"] - cpu0["jvm"]
        return rec

    wl.setup()
    t_inputs = time.perf_counter()
    warm_failed = sum(one_pass(False) is None for _ in range(wl.warmup_passes))
    setup_s = time.perf_counter() - t_start

    timed: list[dict] = []
    attempted = failed = 0
    t0 = time.perf_counter()
    state["measured"] = 0.0  # pass time only: set-up and clean-up excluded
    # a traced run alternates traced and untraced passes, two traced at least
    min_passes = 3 if trace else MIN_PASSES
    while failed < MAX_FAILED and (
        len(timed) < min_passes or state["measured"] < seconds
    ):
        rec = one_pass(trace and attempted % 2 == 0)
        attempted += 1
        if rec is None:
            failed += 1
        else:
            timed.append(rec)
    peak_rss = procfs.peak_rss_mb()
    t_check = time.perf_counter()

    problems = [f"{warm_failed} warm-up pass(es) raised"] if warm_failed else []
    if not timed:
        problems.append("every timed pass raised")
    else:
        try:
            problems += wl.check(state["kept"], state["result"])
        except Exception:
            problems.append("output check raised:\n" + traceback.format_exc())
        if problems:
            failed += 1  # the checked pass
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    inputs = wl.inputs()
    print(f"perfbench: phases (s): inputs {t_inputs - t_start:.1f}, warm-up "
          f"{t0 - t_inputs:.1f}, timed {t_check - t0:.1f}, check "
          f"{time.perf_counter() - t_check:.1f}", file=sys.stderr)
    if trace:
        extras = wl.layer_extras(state["result"]) if timed else {}
        metrics = layer_metrics(tracer, timed, extras)
    else:
        walls = [r["wall"] for r in timed]
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median(walls),
            "cpu_s": _median([r["cpu"] for r in timed]),
            "peak_rss_mb": peak_rss,
        }
        print(f"perfbench: pass walls {[round(w, 3) for w in walls]}", file=sys.stderr)
    if state["kept"]:
        shutil.rmtree(state["kept"], ignore_errors=True)
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "inputs": inputs,
        "passes": len(timed),
    }


def layer_metrics(tracer, timed: list[dict], extras: dict) -> dict[str, float]:
    traced = [r for r in timed if r["traced"]]
    untraced = [r for r in timed if not r["traced"]]
    setup = tracer.pass_metrics("setup")
    out: dict[str, float] = {}
    for name in per_layer_units():
        key = _SOURCE.get(name, name)
        if name in SETUP_LAYERS:
            out[name] = float(setup.get(key, 0.0))
        elif name in extras:
            out[name] = float(extras[name])
        else:
            out[name] = _median([float(r["layers"].get(key, 0.0)) for r in traced])
    out["trace.overhead_s"] = (
        _median([r["wall"] for r in traced]) - _median([r["wall"] for r in untraced])
        if traced and untraced else 0.0
    )
    jobs = [r["layers"].get("spark.jobs", 0) for r in traced]
    print(f"perfbench: spark jobs per traced pass {jobs}", file=sys.stderr)
    return out


def result_line(res: dict, trace: bool) -> str:
    """The last stdout line: correctness, pass counts and every metric of
    the run's kind with its unit."""
    units = per_layer_units() if trace else END_TO_END
    return json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            name: {"value": value, "unit": units[name]}
            for name, value in res["metrics"].items()
        },
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "kg_incremental", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        import ontology_mapper_spark  # noqa: F401
        import bench  # noqa: F401
        import check_correctness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, trace_engine

    tracer = Tracer() if args.trace else NullTracer()
    t_start = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_spark()
    try:
        if args.trace:
            tracer.sc = spark.sparkContext
            trace_engine(tracer)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        res = measure(wl, tracer, args.seconds, bool(args.trace), t_start)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark, work)
        print(f"perfbench: stop {time.perf_counter() - t_stop:.1f}s", file=sys.stderr)

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
    info = {"workload": args.workload, "seed": args.seed, "k": cores(), "heap": HEAP,
            "warmup_passes": wl.warmup_passes, "timed_passes": res["passes"],
            **res["inputs"]}
    print("perfbench inputs " + json.dumps(info))
    print(f"metric error_rate {res['failed'] / res['attempted']:.4f} ratio")
    line = result_line(res, bool(args.trace))
    for name, m in json.loads(line)["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
