"""Spans and Spark counters for the traced run.

A span is ``{id, name, op_id, parent, start, end}`` plus optional
attributes. Spans live in memory and are written once, at exit. Every
span opened on the driver's main thread sets its own Spark job group,
so the jobs, stages and tasks Spark runs inside it are attributed to it
through Spark's status tracker and status store. Nothing here changes
the engine: the traced run wraps the public names ``pipeline`` calls,
from this file, and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._main = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str, op_id: str | None = None):
        """Record one span. On the main thread it nests and owns a job
        group; on a helper thread its parent is the main thread's open
        span and it runs no jobs of its own."""
        main = threading.get_ident() == self._main
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            rec = {
                "id": len(self.spans),
                "name": name,
                "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
                "parent": parent["id"] if parent else None,
            }
            self.spans.append(rec)
            if main:
                self._stack.append(rec)
        sc = self.spark.sparkContext
        if main:
            sc.setLocalProperty(_GROUP_PROP, f"perfbench-{rec['id']}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if main:
                with self._lock:
                    self._stack.pop()
                sc.setLocalProperty(
                    _GROUP_PROP,
                    f"perfbench-{parent['id']}" if parent else None,
                )

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if name == "sources.read_paths":
                    rec["batches"] = len(out[0])
                return out

        return traced

    @contextlib.contextmanager
    def patched_pipeline(self):
        """Wrap the layer entry points ``pipeline`` calls for as long
        as the context is open."""
        from data_ingestion_tool_spark import pipeline, xlsx_lite
        from data_ingestion_tool_spark.sinks.tables import AuditLog

        targets = [
            (pipeline, "read_paths", "sources.read_paths"),
            (pipeline, "validate_and_split", "validate.validate_and_split"),
            (pipeline, "write_split", "sinks.write_split"),
            (pipeline, "export_to_excel", "sinks.export_to_excel"),
            (xlsx_lite, "write_xlsx", "xlsx_lite.write_xlsx"),
            (AuditLog, "flush", "sinks.audit_flush"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for obj, attr, name in targets:
                setattr(obj, attr, self.wrap(getattr(obj, attr), name))
            yield
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)

    # -- reading the spans back ------------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def union(self, name: str) -> float:
        return _union([(s["start"], s["end"]) for s in self.named(name)])

    def self_time(self, name: str) -> float:
        """Duration of the named spans minus the part of it their
        child spans cover."""
        out = 0.0
        for s in self.named(name):
            kids = [
                (c["start"], c["end"]) for c in self.spans
                if c["parent"] == s["id"]
            ]
            out += (s["end"] - s["start"]) - _union(kids)
        return out

    def jobs(self, names: tuple[str, ...] | None = None) -> list[int]:
        """Spark job ids started while a span (of one of ``names``, or
        any span) was the innermost open span on the main thread."""
        tracker = self.spark.sparkContext.statusTracker()
        out: list[int] = []
        for s in self.spans:
            if names is None or s["name"] in names:
                out.extend(tracker.getJobIdsForGroup(f"perfbench-{s['id']}"))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def maybe_span(tracer: Tracer | None, name: str, op_id: str | None = None):
    """``tracer.span(...)``, or a no-op context in the untraced run."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name, op_id)


def _union(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s executed
    query, from its QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


def spark_counters(spark, job_ids: list[int], wall_s: float, cores: int) -> dict:
    """Job, stage and task counters for ``job_ids`` from Spark's status
    store (executor times are in ms, CPU time in ns)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — older buses lack the no-arg form
        time.sleep(1.0)
    store = jsc.statusStore()
    jvm = sc._jvm
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    stage_ids: set[int] = set()
    for jid in job_ids:
        stage_ids.update(as_java(store.job(jid).stageIds()))
    stages = as_java(store.stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0), None
    ))
    c = dict.fromkeys(
        ("stages", "tasks", "single_task_stages", "run_ms", "cpu_ns",
         "gc_ms", "shuffle_write", "shuffle_read", "spill", "input",
         "failed_tasks"), 0,
    )
    for st in stages:
        if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["single_task_stages"] += st.numTasks() == 1
        c["run_ms"] += st.executorRunTime()
        c["cpu_ns"] += st.executorCpuTime()
        c["gc_ms"] += st.jvmGcTime()
        c["shuffle_write"] += st.shuffleWriteBytes()
        c["shuffle_read"] += st.shuffleReadBytes()
        c["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["input"] += st.inputBytes()
        c["failed_tasks"] += st.numFailedTasks()
    run_s, cpu_s, gc_s = c["run_ms"] / 1e3, c["cpu_ns"] / 1e9, c["gc_ms"] / 1e3
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.single_task_stage_share": c["single_task_stages"] / max(1, c["stages"]),
        "spark.run_s": run_s,
        "spark.cpu_s": cpu_s,
        "spark.gc_s": gc_s,
        "spark.noncpu_s": run_s - cpu_s - gc_s,
        "spark.busy_share": run_s / (wall_s * cores),
        "spark.shuffle_write_bytes": c["shuffle_write"],
        "spark.shuffle_read_bytes": c["shuffle_read"],
        "spark.spill_bytes": c["spill"],
        "spark.input_bytes": c["input"],
        "spark.failed_tasks": c["failed_tasks"],
    }
