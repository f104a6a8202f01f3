"""Span tracing for the traced benchmark run.

``Tracer.install()`` replaces the public functions of the engine's layers
with wrappers that open a span per call, before ``plans.queries`` and
``plans.pipelines`` are imported, and then rebinds every module-level
``from … import`` binding already taken inside the package, so calls between
layers go through the wrappers too.  Each span labels the Spark jobs it
launches through ``setJobDescription`` as ``pb|<phase>|<top>|<innermost>``,
where ``<top>`` is the outermost open span (the benchmark's own call into
the engine) and ``<innermost>`` the layer that was running when the job was
submitted.  ``spark_counters`` reads those jobs and their stages back from
the status REST API (the approach of ``tools/rest_metrics.py``).

A span's self time is its duration minus the time of the spans it
encloses.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
import urllib.request
from collections import Counter
from datetime import datetime, timezone

PACKAGE = "re_data_pipeline_spark"
# functions.* first: operators bind them at import time
WRAPPED_PACKAGES = ("functions", "operators")
SINK_CLASS = "ParquetAntiJoinSink"
SINK_METHODS = ("read", "upsert", "delete_absent")


def _modules(sub: str) -> list:
    pkg = importlib.import_module(f"{PACKAGE}.{sub}")
    return [
        importlib.import_module(f"{pkg.__name__}.{m.name}")
        for m in pkgutil.iter_modules(pkg.__path__)
    ]


class Tracer:
    """Spans and per-layer counters of one benchmark process."""

    def __init__(self) -> None:
        self.sc = None
        self.phase = "setup"
        self.enabled = True
        self._stack: list[list] = []  # [layer, start, child_seconds]
        self.calls: Counter = Counter()
        self.self_s: Counter = Counter()
        self.total_s: Counter = Counter()
        self.storage_peak_b = 0
        self.label_s = 0.0

    # -- spans -------------------------------------------------------------
    def _label(self) -> None:
        if self.sc is None:
            return
        t0 = time.perf_counter()
        if self._stack:
            label = f"pb|{self.phase}|{self._stack[0][0]}|{self._stack[-1][0]}"
        else:
            label = None
        self.sc.setJobDescription(label)
        self.label_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        frame = [layer, time.perf_counter(), 0.0]
        self._stack.append(frame)
        self._label()
        try:
            yield
        finally:
            dur = time.perf_counter() - frame[1]
            self._stack.pop()
            self.calls[layer] += 1
            self.total_s[layer] += dur
            self.self_s[layer] += dur - frame[2]
            if self._stack:
                self._stack[-1][2] += dur
            self._label()

    @contextlib.contextmanager
    def paused(self):
        """Benchmark bookkeeping (cache release) that must not count."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(self, layer: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        # same __module__/__qualname__ as fn: cloudpickle then ships it by
        # reference, and executors import the plain function
        return functools.update_wrapper(traced, fn)

    def install(self) -> None:
        """Wrap session, catalog, functions.*, operators.* and the parquet
        sink.  Must run before plans.queries / plans.pipelines import."""
        import re_data_pipeline_spark.catalog as catalog
        import re_data_pipeline_spark.session as session
        import re_data_pipeline_spark.sinks as sinks

        wrapped: dict[int, object] = {}

        def wrap_module(mod, layer: str) -> None:
            for name, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == mod.__name__
                ):
                    w = self.wrap(layer, fn)
                    wrapped[id(fn)] = w
                    setattr(mod, name, w)

        wrap_module(session, "session")
        wrap_module(catalog, "catalog")
        for sub in WRAPPED_PACKAGES:
            for mod in _modules(sub):
                short = mod.__name__.rsplit(".", 1)[1]
                wrap_module(mod, "functions" if sub == "functions" else f"operators.{short}")
        cls = getattr(sinks, SINK_CLASS)
        for name in SINK_METHODS:
            setattr(cls, name, self.wrap(f"sinks.{name}", getattr(cls, name)))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PACKAGE):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and vars(mod)[name] is not wrapped[id(obj)]:
                    setattr(mod, name, wrapped[id(obj)])

    # -- counters ----------------------------------------------------------
    def sample_storage(self) -> None:
        """Record executor storage memory in use (cached/checkpointed
        blocks); the traced run samples it after each job's construction
        and action."""
        if self.sc is None:
            return
        status = self.sc._jsc.sc().getExecutorMemoryStatus()
        it = status.values().iterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        self.storage_peak_b = max(self.storage_peak_b, used)

    def take(self) -> dict:
        """Counters since the last take, then reset."""
        snap = {
            "calls": dict(self.calls),
            "self_s": dict(self.self_s),
            "total_s": dict(self.total_s),
            "storage_peak_b": self.storage_peak_b,
            "label_s": self.label_s,
        }
        self.calls, self.self_s, self.total_s = Counter(), Counter(), Counter()
        self.storage_peak_b = 0
        self.label_s = 0.0
        return snap


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return (
        datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def spark_counters(sc, phase: str) -> dict:
    """Jobs and stages of one phase, from the status REST API.

    Returns per-job attribution (``jobs_by_top`` / ``jobs_by_layer``) and
    the stage metric sums of those jobs' completed stages."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    prefix = f"pb|{phase}|"
    jobs = [j for j in _get(f"{base}/jobs") if (j.get("description") or "").startswith(prefix)]
    stage_ids = {s for j in jobs for s in j.get("stageIds", ())}
    stages = [s for s in _get(f"{base}/stages?status=complete") if s["stageId"] in stage_ids]
    by_top: Counter = Counter()
    by_layer: Counter = Counter()
    for j in jobs:
        _, _, top, inner = j["description"].split("|")
        by_top[top] += 1
        by_layer[inner] += 1
    intervals = [
        (_ts(j["submissionTime"]), _ts(j["completionTime"]))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]
    return {
        "jobs": len(jobs),
        "jobs_by_top": dict(by_top),
        "jobs_by_layer": dict(by_layer),
        "job_s": _union_seconds(intervals),
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in stages),
        "failed_tasks": sum(j.get("numFailedTasks", 0) for j in jobs),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
        ),
    }
