"""Benchmark-side tracing: spans around the calls into each layer, and
Spark's own task metrics attributed to each benchmark op.

Nothing here edits the program. ``Tracer.install`` rebinds the public
entry points of each layer (``get_session``, ``load_table``,
``run_tasks``, ``get_prediction_udf``) at every module that imported
them, so each call opens a span; ``uninstall`` restores the originals.
Spans are kept in memory and written out once, when the run ends.

Spark work is attributed per op through a job group set for the op
(stage metrics are read from the status store right after the op,
before retained stages are evicted) and, for streaming queries, whose
micro-batches run under the stream's own job group, through a
``StreamingQueryListener`` that records each query's run id and
per-trigger durations.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager

# (module holding the original, attribute, span name)
TRACED = (
    ("skdist_spark.sources.session", "get_session", "sources.get_session"),
    ("skdist_spark.sources.catalog", "load_table", "sources.load_table"),
    ("skdist_spark.operators._engine", "run_tasks", "engine.run_tasks"),
    ("skdist_spark.operators.predict", "get_prediction_udf", "predict.get_prediction_udf"),
)

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "deserialize_s", "gc_s",
    "python_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "result_bytes", "widest_stage_tasks",
)


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._originals: list[tuple] = []
        self._t0 = time.perf_counter()

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def spans_named(self, name: str, op: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and (op is None or s["op"] == op)
        ]

    def total(self, name: str, op: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans_named(name, op))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")

    # -- wrappers around the layers' public functions --------------------
    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in TRACED:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(original, span_name)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if not (name.startswith("skdist_spark") or name == "__spark_entry__"):
                    continue
                if getattr(mod, attr, None) is original:
                    setattr(mod, attr, wrapper)
                    self._originals.append((mod, attr, original))
        self._install_broadcast_probe()

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._originals):
            setattr(mod, attr, original)
        self._originals.clear()

    def _wrap(self, fn, span_name):
        tracer = self

        if span_name == "engine.run_tasks":
            def run_tasks(sc, tasks, work_fn, shared=None, partitions="auto"):
                from skdist_spark.operators._engine import parse_partitions

                tasks = list(tasks)
                attrs = {
                    "tasks": len(tasks),
                    "distributed": sc is not None,
                    "partitions": parse_partitions(partitions, len(tasks)) if sc is not None else 0,
                    "broadcast_bytes": 0,
                }
                if sc is None or tracer.op_id is None:
                    with tracer.span(span_name, **attrs):
                        return fn(sc, tasks, work_fn, shared, partitions)
                # the jobs this call adds to the op's job group are its own
                context = sc.sparkContext if hasattr(sc, "sparkContext") else sc
                status = context.statusTracker()
                before = set(status.getJobIdsForGroup(tracer.op_id))
                with tracer.span(span_name, **attrs) as rec:
                    try:
                        return fn(sc, tasks, work_fn, shared, partitions)
                    finally:
                        after = set(status.getJobIdsForGroup(tracer.op_id))
                        rec["job_ids"] = sorted(after - before)

            return run_tasks

        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def _install_broadcast_probe(self) -> None:
        """Record the size of the pickled payload ``run_tasks`` broadcasts."""
        from pyspark import SparkContext

        original = SparkContext.broadcast
        tracer = self

        def broadcast(sc_self, value):
            if tracer._stack and isinstance(value, (bytes, bytearray)):
                top = tracer.spans[tracer._stack[-1]]
                if top["name"] == "engine.run_tasks":
                    top["broadcast_bytes"] += len(value)
            return original(sc_self, value)

        SparkContext.broadcast = broadcast
        self._originals.append((SparkContext, "broadcast", original))


class StreamRecorder:
    """Collects streaming-query runs and per-trigger progress per op."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []
        self.listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with rec.lock:
                    rec.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with rec.lock:
                    rec.progress.append({
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "duration_ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with rec.lock:
                    rec.terminated.add(str(event.runId))

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
            self.listener = None

    def take(self, timeout_s: float = 3.0) -> tuple[list[str], list[dict]]:
        """Runs and trigger progress since the last call. Listener events
        arrive asynchronously, so wait (bounded) for every started run to
        report its termination."""
        deadline = time.perf_counter() + timeout_s
        while time.perf_counter() < deadline:
            with self.lock:
                if self.started <= self.terminated:
                    break
            time.sleep(0.02)
        with self.lock:
            runs = sorted(self.started)
            progress = list(self.progress)
            self.started.clear()
            self.terminated.clear()
            self.progress.clear()
        return runs, progress


def job_ids_for_groups(spark, groups) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    ids: set[int] = set()
    for g in groups:
        ids.update(tracker.getJobIdsForGroup(g))
    return sorted(ids)


def stage_metrics(spark, job_ids) -> dict[str, float]:
    """Sum Spark's task metrics over the stages of ``job_ids``."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_FIELDS, 0.0)
    out["jobs"] = float(len(job_ids))
    seen: set[int] = set()
    for jid in job_ids:
        try:
            stage_ids = store.job(jid).stageIds()
        except Py4JJavaError:  # evicted or not yet recorded: nothing to add
            continue
        for i in range(stage_ids.size()):
            sid = int(stage_ids.apply(i))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            tasks = int(st.numCompleteTasks())
            if tasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += tasks
            out["widest_stage_tasks"] = max(out["widest_stage_tasks"], tasks)
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["deserialize_s"] += st.executorDeserializeTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["result_bytes"] += st.resultSize()
    out["python_s"] = max(out["run_s"] - out["cpu_s"], 0.0)
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the query behind ``df``."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        name = str(kv._1())
        if name in out:
            out[name] = float(kv._2().durationMs())
    return out
