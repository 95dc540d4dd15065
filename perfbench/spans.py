"""Spans around the engine's public functions, recorded from outside.

A traced pass patches each wrapped function where its callers look it up
(module attribute or class attribute), records one span per eager call
and a call count per lazy builder, and restores the originals after the
pass.  Lazy builders (`detect_mentions`, `link_mentions`, ...) only plan a
DataFrame, so their execution lands in whichever eager span triggers it.

Each span runs its Spark jobs under a job group of its own, so the jobs,
stages, tasks and task metrics of a span are read afterwards from Spark's
status store.  Spans stay in memory until `dump` writes them out.
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str
    group: str
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Stand-in for untraced runs: no spans, no patches, no job groups."""

    def span(self, name: str):
        return nullcontext()

    def installed(self):
        return nullcontext()


class Tracer(NullTracer):
    def __init__(self) -> None:
        self.sc = None  # set once the session exists
        self.spans: list[Span] = []
        self.values: dict[str, Counter] = defaultdict(Counter)
        self.pass_id = "setup"
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, object]] = []
        self._deferred: list[tuple[str, object]] = []

    # -- recording ---------------------------------------------------------

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(top.group, top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.pass_id,
                  f"perfbench-{self.pass_id}-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group()

    def add(self, name: str, value: float) -> None:
        """Accumulate a count or size under the current pass."""
        self.values[self.pass_id][name] += value

    def defer(self, fn) -> None:
        """Run `fn()` under the current pass once `run_deferred` is called
        after the pass's wall time is taken: for harness work, such as
        sizing the files a call wrote, that must stay out of the spans."""
        self._deferred.append((self.pass_id, fn))

    def run_deferred(self) -> None:
        current = self.pass_id
        for pass_id, fn in self._deferred:
            self.pass_id = pass_id
            fn()
        self._deferred.clear()
        self.pass_id = current

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, lazy: bool = False, after=None) -> None:
        """Trace `owner.attr` while `installed()` is active.  A lazy function
        adds to `<name>_calls`; an eager one records a span named `name`.
        `after(tracer, args, kwargs, result)` runs once the call returns."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if lazy:
                tracer.add(f"{name}_calls", 1)
                return original(*args, **kwargs)
            with tracer.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                after(tracer, args, kwargs, result)
            return result

        self._patches.append((owner, attr, original, wrapper))

    @contextmanager
    def installed(self):
        for owner, attr, _, wrapper in self._patches:
            setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            for owner, attr, original, _ in self._patches:
                setattr(owner, attr, original)

    # -- reading back ------------------------------------------------------

    def collect_jobs(self, pass_id: str) -> None:
        """Fill `Span.jobs` for one pass from the status store (after the
        listener bus has caught up with the pass's last job)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.pass_id == pass_id:
                sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))

    def _subtree(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def pass_metrics(self, pass_id: str) -> Counter:
        """Per-pass sums: `<span>_s` (wall), `<span>_self_s` (wall minus
        direct children), `<span>_calls`, `<span>_jobs` (its subtree's
        jobs), plus every value added with `add`."""
        out: Counter = Counter(self.values[pass_id])
        ids = [i for i, s in enumerate(self.spans) if s.pass_id == pass_id]
        for i in ids:
            sp = self.spans[i]
            children = sum(
                self.spans[j].wall for j in ids if self.spans[j].parent == i
            )
            out[f"{sp.name}_s"] += sp.wall
            out[f"{sp.name}_self_s"] += sp.wall - children
            out[f"{sp.name}_calls"] += 1
            out[f"{sp.name}_jobs"] += sum(
                len(self.spans[j].jobs) for j in self._subtree(i)
            )
        return out

    def spark_stats(self, pass_id: str) -> dict[str, float]:
        """Engine totals over every job a pass ran, from the status store."""
        jobs = {j for s in self.spans if s.pass_id == pass_id for j in s.jobs}
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = Counter({"spark.jobs": len(jobs)})
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # in a job's plan but never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spark.output_mb"] += sd.outputBytes() / MB
            out["spark.spill_mb"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            ) / MB
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
