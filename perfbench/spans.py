"""Traced-run instrumentation, applied from outside the package.

``Tracer.install()`` wraps every public function of the layer modules in
``LAYERS`` with a span recorder.  Query modules bind operator functions
at import (``from ..operators.layout import ckpt_partitioned``), so each
wrapper replaces the function object in every loaded package module
that holds it, not only in the module that defines it.  It also counts
``DataFrame.localCheckpoint``/``checkpoint`` calls and driver round
trips (``collect``/``toArrow``/``toPandas``/``take``/``first``/``head``)
made while a request is building.

Spans (name, start, end, parent, request id) stay in memory and are
written out by ``dump`` when the run ends.  ``stage_metrics`` reads one
request's Spark stage metrics from the status store by job group.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import Counter

PACKAGE = "etl_onprem_to_cloud_spark"
LAYERS = (
    "pipeline",
    "pinned",
    "sources.io",
    "transforms.netflix",
    "operators.layout",
    "operators.graph",
    "llm.similarity",
    "llm.similarity_ml",
    "llm.dedup",
    "functions.vectors",
)
_ROUND_TRIPS = ("collect", "toArrow", "toPandas", "take", "first", "head")
_CHECKPOINTS = ("localCheckpoint", "checkpoint")


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, request, name, start, end)
        self._stack: list[int] = []
        self.request: str | None = None
        self.building = False
        self.counts: Counter = Counter()
        self._depth = 0

    # -- spans -------------------------------------------------------------

    def call(self, name: str, fn, *args, **kwargs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, parent, self.request, name, t0, time.perf_counter())

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    # -- install -----------------------------------------------------------

    def install(self) -> None:
        layer_mods = {
            layer: importlib.import_module(f"{PACKAGE}.{layer}") for layer in LAYERS
        }
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m]
        for layer, mod in layer_mods.items():
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                wrapped = self.wrap(f"{layer}.{attr}", fn)
                for holder in mods:
                    for k, v in list(vars(holder).items()):
                        if v is fn:
                            setattr(holder, k, wrapped)
        self._patch_dataframe()

    def _patch_dataframe(self) -> None:
        # Classic Spark sessions return pyspark.sql.classic DataFrames,
        # which override the methods of the public base class.
        from pyspark.sql import DataFrame
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        for meth, counter in [(m, "spark.driver_collects") for m in _ROUND_TRIPS] + [
            (m, "spark.local_checkpoints") for m in _CHECKPOINTS
        ]:
            for cls in (DataFrame, ClassicDataFrame):
                if meth in vars(cls):
                    setattr(cls, meth, self._counting(vars(cls)[meth], counter))

    def _counting(self, orig, counter: str):
        tracer = self

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            # first() -> head() -> take() -> collect(): count the outer call.
            if tracer.building and tracer._depth == 0:
                tracer.counts[counter] += 1
            tracer._depth += 1
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._depth -= 1

        return counted

    # -- summaries ---------------------------------------------------------

    def layer_times(self, request_ids) -> dict[str, float]:
        """Inclusive time of the outermost spans of each layer module and
        of each public function, plus call counts, over ``request_ids``."""
        want = set(request_ids)
        by_id = {s[0]: s for s in self.spans if s}
        out: Counter = Counter()
        for sid, parent, req, name, t0, t1 in by_id.values():
            if req not in want:
                continue
            layer = name.rsplit(".", 1)[0]
            out[f"{name}.calls"] += 1
            out[f"{layer}.calls"] += 1
            p = by_id.get(parent)
            if p is None or p[3].rsplit(".", 1)[0] != layer:
                out[f"{layer}_s"] += t1 - t0
            if p is None or p[3] != name:
                out[f"{name}_s"] += t1 - t0
        return dict(out)

    def dump(self, path: str, meta: dict) -> None:
        spans = [
            {"id": s[0], "parent": s[1], "request": s[2], "name": s[3],
             "start": s[4], "end": s[5]}
            for s in self.spans if s
        ]
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": spans}, f)


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Sum the stage metrics of every job run under ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out: Counter = Counter()
    seen = set()
    jobs = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(jobs)
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in list(info.stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            attempts = store.stageData(sid, False, None, False, None).iterator()
            while attempts.hasNext():
                sd = attempts.next()
                if sd.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return dict(out)


def plan_exchanges(df) -> int:
    """Exchange nodes in ``df``'s physical plan; a reused exchange is the
    same exchange, so ReusedExchange nodes are not counted again."""
    n = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            n += 1
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.initialPlan())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
        subs = node.subqueries().iterator()
        while subs.hasNext():
            todo.append(subs.next())
    return n
