"""Per-layer tracing for the traced run, kept outside the package.

- Spark's own per-node SQL metrics are read after every action: a
  QueryExecutionListener (a py4j proxy) walks the executed plan, AQE query
  stages included, and sums the Python-node and shuffle metrics.
- Driver-side package functions are wrapped with call counters and
  timers for the duration of a traced op, then restored.
- Task and failed-task counts come from the status tracker, per job group.

One span per op (name, job group, start and end from the tracer's start,
and the layer figures above); spans stay in memory and are written out
once at the end of the run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

# SQL metric name -> (span key, scale to seconds / bytes)
PLAN_METRICS = {
    "pythonBootTime": ("spark.python.boot_s", 1e-3),
    "pythonInitTime": ("spark.python.init_s", 1e-3),
    "pythonTotalTime": ("spark.python.total_s", 1e-3),
    "pythonDataSent": ("spark.python.bytes_sent", 1),
    "pythonDataReceived": ("spark.python.bytes_received", 1),
    "shuffleBytesWritten": ("spark.shuffle.bytes_written", 1),
    "shuffleWriteTime": ("spark.shuffle.write_s", 1e-9),
    "fetchWaitTime": ("spark.shuffle.fetch_wait_s", 1e-3),
}


def walk_plan(plan, acc: dict) -> None:
    """Add the metrics of ``plan`` and everything below it into ``acc``."""
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        is_python = False
        while it.hasNext():
            kv = it.next()
            name = kv._1()
            if name in PLAN_METRICS:
                key, scale = PLAN_METRICS[name]
                acc[key] += kv._2().value() * scale
                is_python |= name == "pythonTotalTime"
        if is_python:
            acc["spark.python.nodes"] += 1
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            ch = node.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))


def blocks_planned(args: tuple, kwargs: dict) -> int:
    """Block files a scan_block_files call plans: its explicit path list,
    else the block files under the dataset."""
    paths = kwargs.get("paths", args[4] if len(args) > 4 else None)
    if paths is not None:
        return len(paths)
    return sum(
        sum(1 for f in files if f.isdigit())
        for _root, _dirs, files in os.walk(os.path.join(args[1], args[2]))
    )


class PlanListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self):
        self.acc: dict | None = None
        self.errors: list[str] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java API)
        acc = self.acc
        if acc is None:
            return
        try:
            acc["spark.executions"] += 1
            acc["spark.execution_s"] += durationNs / 1e9
            walk_plan(qe.executedPlan(), acc)
        except Exception as e:  # never raise into the listener bus
            self.errors.append(f"{type(e).__name__}: {e}")

    def onFailure(self, funcName, qe, exception):  # noqa: N802 (Java API)
        if self.acc is not None:
            self.acc["spark.executions_failed"] += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class CallTimers:
    """Context manager that wraps driver-side package functions with call
    counters and timers, wherever a package module has bound them, and
    restores the originals on exit.

    ``specs`` are (key, module, attribute, item counter); the counter, when
    given, runs outside the timer and adds to the key's item count."""

    def __init__(self, specs):
        self.specs = specs
        self.calls: dict = {key: [0, 0.0, 0] for key, *_rest in specs}
        self._restore: list = []

    def reset(self) -> None:
        for v in self.calls.values():
            v[:] = [0, 0.0, 0]

    def _wrap(self, key: str, modname: str, attr: str, counter) -> None:
        import importlib

        orig = getattr(importlib.import_module(modname), attr)
        stats = self.calls[key]

        def wrapper(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                stats[1] += time.perf_counter() - t0
                stats[0] += 1
                if counter:
                    stats[2] += counter(a, k)

        # pickles by reference to the original if a closure ever captures it
        for name in ("__module__", "__name__", "__qualname__", "__doc__"):
            setattr(wrapper, name, getattr(orig, name))
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("n5_dask_spark") and mod.__dict__.get(attr) is orig:
                setattr(mod, attr, wrapper)
                self._restore.append((mod, attr, orig))

    def __enter__(self):
        for spec in self.specs:
            self._wrap(*spec)
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()


class Tracer:
    """Collects one span per traced op."""

    WRAPPED = (
        ("sources.n5.metadata.read_attributes", "n5_dask_spark.sources.n5.metadata",
         "read_attributes", None),
        ("sources.n5.reader.scan_block_files", "n5_dask_spark.sources.n5.reader",
         "scan_block_files", blocks_planned),
    )

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = PlanListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.timers = CallTimers(self.WRAPPED)
        self.spans: list[dict] = []
        self.t_origin = time.perf_counter()

    def __enter__(self):
        self.timers.__enter__()
        return self

    def __exit__(self, *exc):
        self.timers.__exit__(*exc)
        self.listener.acc = None

    def run(self, group: str, op_name: str, fn):
        """Run ``fn()`` as one traced op; return (result, span)."""
        acc: dict = defaultdict(float)
        self.timers.reset()
        self.listener.acc = acc
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            t1 = time.perf_counter()
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            self.listener.acc = None
        span = {"op": op_name, "group": group, "start_s": t0 - self.t_origin,
                "end_s": t1 - self.t_origin, "wall_s": t1 - t0, **acc}
        for key, (calls, secs, items) in self.timers.calls.items():
            span[f"{key}_calls"] = calls
            span[f"{key}_s"] = secs
            span[f"{key}_items"] = items
        span.update(self.task_counts(group))
        self.spans.append(span)
        return result, span

    def task_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        tasks = failed = 0
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return {"spark.tasks": tasks, "spark.tasks_failed": failed}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "listener_errors": self.listener.errors, "spans": self.spans}, f, indent=1)
