"""Spans and Spark counters recorded around calls into the engine.

The benchmark wraps each call into a layer of ``tesserocr_spark`` in a span
(name, start, end, parent, run id). Spans stay in memory and are written out
when the run ends. Spark's own counters are read from outside the engine:
jobs, stages, tasks and shuffle bytes through the status tracker by job
group, Python rows and bytes from the executed plan's SQL metrics.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import session
from common import median, noop, timed

#: the engine's modules, longest first so ``core.extractor.x`` resolves to
#: ``core.extractor``; spans named otherwise belong to the benchmark itself.
LAYERS = ("core.extractor", "multimodal", "streaming", "queries", "pages",
          "jobs", "sinks", "spark", "udf", "api")


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


class Tracer:
    """In-memory span recorder of one traced run."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record a span around the body; the yielded dict is stored with it."""
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f, indent=1)


class SparkCounters:
    """Per-job-group engine counters."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the body's actions under a fresh job group; the yielded dict
        is filled with the group's counts when the body ends."""
        self._n += 1
        gid = f"{name}#{self._n}"
        counts: dict = {}
        self.sc.setJobGroup(gid, name)
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        counts.update(self.counts_for(gid))

    def counts_for(self, gid: str) -> dict:
        """Jobs, stages, tasks and shuffle bytes of a job group, plus the
        stages' summed wall time (``stage_s``) and their tasks' summed run
        time (``run_s``)."""
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_bytes"), 0)
        out.update(stage_s=0.0, run_s=0.0)
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["run_s"] += st.executorRunTime() / 1000.0
                start, end = st.submissionTime(), st.completionTime()
                if start.isDefined() and end.isDefined():
                    out["stage_s"] += (end.get().getTime() - start.get().getTime()) / 1000.0
        return out


def _plan_nodes(node):
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        yield from _plan_nodes(node.executedPlan())
        return
    if "QueryStage" in name:
        yield from _plan_nodes(node.plan())
        return
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _is_python(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def plan_shape(df: DataFrame) -> dict:
    """Exchange and Python-node counts of the physical plan."""
    names = [n.nodeName() for n in _plan_nodes(df._jdf.queryExecution().executedPlan())]  # noqa: SLF001
    return {"exchanges": sum("Exchange" in n for n in names),
            "python_nodes": sum(_is_python(n) for n in names)}


_PY_METRICS = {"pythonDataSent": "arrow_bytes_in",
               "pythonDataReceived": "arrow_bytes_out",
               "pythonNumRowsReceived": "arrow_rows_out"}


def python_metrics(df: DataFrame) -> dict:
    """Python transport counters of an executed DataFrame (call after an
    action on ``df`` itself, e.g. ``df.collect()``)."""
    out = dict.fromkeys(_PY_METRICS.values(), 0)
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):  # noqa: SLF001
        if not _is_python(node.nodeName()):
            continue
        metrics = node.metrics()
        for key, name in _PY_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[name] += m.get().value()
    return out


def identity_udf():
    @F.pandas_udf("binary")
    def identity(x: pd.Series) -> pd.Series:
        return x

    return identity


def serial_task_ms(spark: SparkSession, reps: int = 3) -> float:
    """Slope of an identity pandas UDF's wall time against its task count,
    from runs at 1x and 4x cores' worth of tasks (ms per extra task)."""
    cores = session.host_cores()
    ident = identity_udf()

    def wall(tasks: int) -> float:
        df = spark.range(0, 64 * cores, 1, tasks).select(
            ident(F.col("id").cast("string").cast("binary")))
        return median([timed(lambda: noop(df))[1] for _ in range(reps)])

    return (wall(4 * cores) - wall(cores)) / (3 * cores) * 1000.0
