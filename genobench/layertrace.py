"""Per-layer tracing from outside the engine.

``Tracer.patch`` swaps a layer's public function, on the module its
caller looks it up in, for a wrapper that runs the call under its own
Spark job group, materialises the returned DataFrame with an eager
``localCheckpoint`` and records a span (name, start, end, parent, job
group). Downstream layers then read the materialised result, so each
layer's Spark work lands in its own job group. After the job,
``Tracer.metrics`` reads every group's stage metrics from Spark's
status store, which is filled with or without the web UI.

Counting a layer's output rows takes extra Spark jobs; they run under
a separate group and their time is taken out of every open span.
"""

from __future__ import annotations

import itertools
import statistics
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MB = float(1 << 20)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    call_s: float = 0.0
    excluded_s: float = 0.0
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start - self.excluded_s


# A counter gets (args, kwargs, materialised result) and returns named
# counts; it runs outside the span's timed interval.
Counter = Callable[[tuple, dict, DataFrame], dict[str, int]]


class Tracer:
    def __init__(self, spark: SparkSession, prefix: str = "genobench"):
        self.spark = spark
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []
        self._job_ids: dict[str, list[int]] = {}

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, parent.id if parent else None, f"{self.prefix}:{sid}:{name}",
                  time.perf_counter())
        self.sc.setJobGroup(sp.group, sp.group, interruptOnCancel=False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.group, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _count(self, sp: Span, fn: Callable[[], dict[str, int]]) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup(f"{self.prefix}:count", "count", interruptOnCancel=False)
        try:
            sp.counts.update(fn())
        finally:
            self.sc.setJobGroup(sp.group, sp.group, interruptOnCancel=False)
            spent = time.perf_counter() - t0
            for open_span in self._stack:
                open_span.excluded_s += spent

    def patch(self, module: object, attr: str, name: str, counter: Counter | None = None) -> None:
        """Trace calls of ``module.attr`` as layer ``name``; skipped if
        the module no longer has the attribute."""
        orig = getattr(module, attr, None)
        if orig is None:
            return

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                sp.call_s = time.perf_counter() - sp.start - sp.excluded_s
                if isinstance(result, DataFrame):
                    result = result.localCheckpoint(eager=True)
                    res = result

                    def counts() -> dict[str, int]:
                        out = {"rows_out": res.count()}
                        if counter is not None:
                            out.update(counter(args, kwargs, res))
                        return out

                    self._count(sp, counts)
                return result

        setattr(module, attr, traced)
        self._undo.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)

    # -- status store ------------------------------------------------------

    def _stage_rows(self) -> dict[str, list]:
        """Job group → completed stage attempts of that group's jobs."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        jobs = store.jobsList(None)
        stage_ids: dict[str, set[int]] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isDefined() and group.get().startswith(self.prefix + ":"):
                self._job_ids.setdefault(group.get(), []).append(job.jobId())
                ids = job.stageIds()
                stage_ids.setdefault(group.get(), set()).update(
                    ids.apply(k) for k in range(ids.size())
                )
        out: dict[str, list] = {}
        for group, ids in stage_ids.items():
            rows = out.setdefault(group, [])
            for sid in sorted(ids):
                attempts = store.stageData(sid, False, None, False, no_quantiles)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) != "SKIPPED":
                        rows.append(st)
        return out

    def _skew(self, stages: list) -> float:
        """Slowest over median task run time of the widest stage."""
        if not stages:
            return 0.0
        widest = max(stages, key=lambda s: (s.numTasks(), s.executorRunTime()))
        q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.sc._jsc.sc().statusStore().taskSummary(
            widest.stageId(), widest.attemptId(), q
        )
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else 1.0

    def metrics(self) -> dict[str, dict[str, float]]:
        """Per layer name: span and stage metrics summed over its spans.
        ``self_s`` is span time minus the time of its child spans."""
        stages = self._stage_rows()
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + sp.wall_s
        out: dict[str, dict[str, float]] = {}
        for sp in sorted(self.spans, key=lambda s: s.start):
            st = stages.get(sp.group, [])
            m = out.setdefault(sp.name, {})

            def add(key: str, value: float) -> None:
                m[key] = m.get(key, 0.0) + value

            add("wall_s", sp.wall_s)
            add("self_s", sp.wall_s - child_s.get(sp.id, 0.0))
            if sp.call_s:
                add("call_s", sp.call_s - child_s.get(sp.id, 0.0))
            add("task_s", sum(s.executorRunTime() for s in st) / 1e3)
            add("gc_s", sum(s.jvmGcTime() for s in st) / 1e3)
            add("shuffle_mb", sum(s.shuffleWriteBytes() for s in st) / MB)
            add("spill_mb", sum(s.memoryBytesSpilled() for s in st) / MB)
            add("output_mb", sum(s.outputBytes() for s in st) / MB)
            add("failed_tasks", float(sum(s.numFailedTasks() for s in st)))
            m["skew"] = max(m.get("skew", 0.0), self._skew(st))
            # the last call of a layer gives its output counts
            m.update({k: float(v) for k, v in sp.counts.items()})
            if "rows_out" not in sp.counts and st:
                m["rows_out"] = float(sum(s.outputRecords() for s in st))
        return out

    def dump_spans(self) -> list[dict]:
        """Spans with their Spark job ids (known once ``metrics`` ran)."""
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "job_group": s.group,
             "job_ids": sorted(self._job_ids.get(s.group, [])),
             "start": s.start, "end": s.end, "wall_s": s.wall_s, "counts": s.counts}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def median_metrics(runs: list[dict[str, dict[str, float]]]) -> dict[str, dict[str, float]]:
    """Per layer and metric, the median over traced jobs."""
    keys = {(layer, k) for r in runs for layer, m in r.items() for k in m}
    out: dict[str, dict[str, float]] = {}
    for layer, k in keys:
        vals = [r[layer][k] for r in runs if layer in r and k in r[layer]]
        out.setdefault(layer, {})[k] = statistics.median(vals)
    return out
