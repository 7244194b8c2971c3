"""Spans around the program's public calls, read back from Spark's
status store.

A span is one call into a layer: its wall time, the Spark jobs
submitted while it was the innermost open span, and (for ``exec``
spans) the stage metrics of those jobs. Each span runs under its own
Spark job group, so a job belongs to exactly one span; a span's
inclusive job count adds its children's. Jobs and stages are read
from ``statusTracker()`` and the status store
(``statusStore().lastStageAttempt``), which both work with the UI
disabled. Spans stay in memory until ``dump``.

``install`` swaps the listed entry points for wrappers in every
``dataframe_spark`` module that holds a reference to them. The
wrappers only record while ``Tracer.active`` is true, so one run can
alternate traced and untraced passes.
"""

from __future__ import annotations

import functools
import json
import sys
import time

# (layer, module, function): the entry points a span is recorded for
ENTRY_POINTS = [
    ("tables", "dataframe_spark.tables", "load_table"),
    ("ml", "dataframe_spark.ml.cox", "fit_cox"),
    ("ml", "dataframe_spark.ml.naive_bayes", "fit_naive_bayes"),
    ("ml", "dataframe_spark.ml.logreg", "fit_logistic_regression"),
    ("ml", "dataframe_spark.operators.similarity", "kmeans_fit"),
    ("ml", "dataframe_spark.operators.bpe", "bpe_train"),
    ("operators", "dataframe_spark.operators.dedup", "jaccard_pairs"),
    ("operators", "dataframe_spark.operators.dedup", "minhash_dedup_pairs"),
    ("operators", "dataframe_spark.operators.graph", "connected_components"),
    ("operators", "dataframe_spark.operators.similarity", "semdedup"),
]

_GROUP = "spark.jobGroup.id"
_MB = 1024.0 * 1024.0


class Span:
    __slots__ = ("sid", "parent", "layer", "name", "attrs", "t0", "t1",
                 "jobs", "children", "stages")

    def __init__(self, sid, parent, layer, name, attrs):
        self.sid, self.parent = sid, parent
        self.layer, self.name, self.attrs = layer, name, attrs
        self.t0 = self.t1 = 0.0
        self.jobs: list[int] = []
        self.children: list[Span] = []
        self.stages: dict | None = None

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def all_jobs(self) -> int:
        return len(self.jobs) + sum(c.all_jobs() for c in self.children)

    def record(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "layer": self.layer,
            "name": self.name, "start": self.t0, "end": self.t1,
            "jobs": self.jobs, "stages": self.stages, **self.attrs,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self._prefix = f"perfbench-{self.sc.applicationId}-"

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def span(self, layer: str, name: str, **attrs):
        return _SpanContext(self, layer, name, attrs)

    def _open(self, layer, name, attrs) -> tuple[Span, str | None]:
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(self._seq, parent.sid if parent else None, layer, name, attrs)
        (parent.children if parent else self.spans).append(s)
        self._stack.append(s)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setJobGroup(self._prefix + str(s.sid), f"{layer}:{name}")
        s.t0 = time.perf_counter()
        return s, prev

    def _close(self, s: Span, prev: str | None) -> None:
        s.t1 = time.perf_counter()
        self._stack.pop()
        self.sc.setLocalProperty(_GROUP, prev)
        self._drain()
        s.jobs = sorted(
            self.sc.statusTracker().getJobIdsForGroup(self._prefix + str(s.sid))
        )
        if s.layer == "exec":
            s.stages = self.stage_metrics(s.jobs)

    def stage_metrics(self, jobs) -> dict:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        out = dict.fromkeys(
            ("stages", "skipped_stages", "tasks", "executor_run_s",
             "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "input_mb"), 0.0,
        )
        for sid in ids:
            sd = store.lastStageAttempt(sid)
            out["stages"] += 1
            if sd.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["spill_mb"] += sd.diskBytesSpilled() / _MB
            out["input_mb"] += sd.inputBytes() / _MB
        return out

    def cache_state(self) -> dict:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return {
            "persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "storage_mb": sum(i.memSize() + i.diskSize() for i in infos) / _MB,
        }

    def dump(self, path: str) -> None:
        def walk(spans):
            for s in spans:
                yield s.record()
                yield from walk(s.children)

        with open(path, "w") as f:
            json.dump(list(walk(self.spans)), f)


class _SpanContext:
    __slots__ = ("tracer", "args", "span", "prev")

    def __init__(self, tracer, layer, name, attrs):
        self.tracer, self.args = tracer, (layer, name, attrs)

    def __enter__(self) -> Span | None:
        if not self.tracer.active:
            self.span = None
            return None
        self.span, self.prev = self.tracer._open(*self.args)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close(self.span, self.prev)


def install(tracer: Tracer) -> None:
    """Wrap every ENTRY_POINTS function wherever a ``dataframe_spark``
    module binds it (``from ..tables import load_table`` copies the
    reference at import time, so patching the defining module alone
    would miss those callers)."""
    import importlib

    import dataframe_spark.queries  # noqa: F401  (binds the references)

    for layer, modname, fname in ENTRY_POINTS:
        orig = getattr(importlib.import_module(modname), fname)
        wrapper = _wrap(tracer, layer, fname, orig)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("dataframe_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)


def _wrap(tracer: Tracer, layer: str, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, name):
            return fn(*args, **kwargs)

    return wrapper


def layer_totals(spans: list[Span]) -> dict:
    """Per layer: calls, seconds and inclusive jobs of its outermost
    spans (a layer nested in itself is counted once), plus the same
    per operator entry point and the summed exec stage metrics."""
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    def walk(s: Span, open_layers: frozenset):
        if s.layer not in open_layers:
            add(f"{s.layer}.calls", 1)
            add(f"{s.layer}.s", s.seconds)
            add(f"{s.layer}.jobs", s.all_jobs())
            if s.layer == "operators":
                add(f"operators.{s.name}.call_s", s.seconds)
                add(f"operators.{s.name}.call_jobs", s.all_jobs())
            if s.stages:
                for k, v in s.stages.items():
                    add(f"exec.{k}", v)
        for c in s.children:
            walk(c, open_layers | {s.layer})

    for s in spans:
        walk(s, frozenset())
    return out
