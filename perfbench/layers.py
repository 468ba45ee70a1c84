"""Per-layer collection for traced runs.

Everything here reads metrics Spark already keeps, from outside the
engine: each executed command's ``QueryExecution`` (delivered by a
``QueryExecutionListener`` through the py4j callback server), its
phase tracker and the SQL metrics of its final adaptive plan, the
application status store for job/stage/task counts, and each stream's
``recentProgress``. Calls into the engine's store functions are timed
by wrappers installed on the engine's modules for the traced run
only; the engine itself is not modified.

Units: ``*_ms`` milliseconds, ``*_bytes`` bytes, plain names counts.
``peakMemory`` and broadcast ``dataSize`` are memory-page
allocations, not data volume, so they are reported as
``*_alloc_bytes``.
"""

from __future__ import annotations

import collections
import functools
import importlib
import time

from py4j.protocol import Py4JJavaError

# (metric name in a Spark plan node, layer metric, scale to the unit)
_NODE_METRICS = {
    "FileSourceScanExec": [
        ("scanTime", "catalog.scan_ms", 1),
        ("numFiles", "catalog.files_read", 1),
        ("filesSize", "catalog.bytes_read", 1),
        ("numOutputRows", "catalog.rows_scanned", 1),
    ],
    "ShuffleExchangeExec": [
        ("shuffleBytesWritten", "exec.shuffle_write_bytes", 1),
        ("localBytesRead", "exec.shuffle_read_bytes", 1),
        ("remoteBytesRead", "exec.shuffle_read_bytes", 1),
        ("shuffleWriteTime", "exec.shuffle_write_ms", 1e-6),
        ("fetchWaitTime", "exec.shuffle_fetch_wait_ms", 1),
    ],
    "BroadcastExchangeExec": [
        ("buildTime", "exec.broadcast_build_ms", 1),
        ("collectTime", "exec.broadcast_collect_ms", 1),
        ("dataSize", "exec.broadcast_alloc_bytes", 1),
    ],
    "WholeStageCodegenExec": [("pipelineTime", "exec.codegen_pipeline_ms", 1)],
}
_ANY_NODE_METRICS = [
    ("pythonNumRowsReceived", "exec.python_rows", 1),
    ("pythonDataSent", "exec.python_bytes", 1),
    ("pythonDataReceived", "exec.python_bytes", 1),
    ("pythonTotalTime", "exec.python_ms", 1),
    ("spillSize", "exec.spill_bytes", 1),
    ("peakMemory", "exec.peak_alloc_bytes", 1),
]
_WRITE_METRICS = [
    ("numFiles", "sources.files_written", 1),
    ("numOutputBytes", "sources.bytes_written", 1),
]


def _jmap(m) -> dict:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _children(plan, cls: str) -> list:
    if cls == "AdaptiveSparkPlanExec":
        return [plan.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [plan.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its metrics belong to the exchange it reuses
    kids = []
    for seq in (plan.children(), plan.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            kids.append(it.next())
    return kids


def plan_metrics(plan, acc: collections.Counter) -> int:
    """Add the SQL metrics of ``plan`` and everything below it (query
    stages and subqueries included) to ``acc``. Returns the output
    rows of the topmost node that reports any."""
    rows_out = -1
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        metrics = {k: v.value() for k, v in _jmap(node.metrics()).items()}
        if cls == "ShuffleExchangeExec":
            acc["exec.exchanges"] += 1
        for key, name, scale in _NODE_METRICS.get(cls, []) + _ANY_NODE_METRICS:
            if key in metrics:
                acc[name] += metrics[key] * scale
        if cls == "DataWritingCommandExec" or cls.startswith("InsertInto"):
            for key, name, scale in _WRITE_METRICS:
                if key in metrics:
                    acc[name] += metrics[key] * scale
        if rows_out < 0 and "numOutputRows" in metrics:
            rows_out = metrics["numOutputRows"]
        stack.extend(reversed(_children(node, cls)))
    return max(rows_out, 0)


class Tracer:
    """Collects the per-layer counters of a traced round.

    ``start()``/``stop()`` bracket the round; ``begin()``/``end()``
    bracket one operation, and ``end`` folds every query execution and
    job that ran in between into ``acc``."""

    def __init__(self, spark, wrappers: tuple = ()):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.jsc = spark._jsc.sc()
        self.qes: list = []
        self.wrappers = wrappers
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _QeListener(self.qes)
        self.acc: collections.Counter = collections.Counter()
        self._patched: list = []

    def start(self) -> None:
        """Attach the listener and the wrappers; between ``start`` and
        ``stop`` every operation is traced."""
        self.acc = collections.Counter()
        self.spark._jsparkSession.listenerManager().register(self._listener)
        for wrapper in self.wrappers:
            self._wrap(*wrapper)
        self._last_job = self._max_job()

    def stop(self) -> collections.Counter:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)
        self._patched.clear()
        return self.acc

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def _max_job(self) -> int:
        self._drain()
        it = self.jsc.statusStore().jobsList(None).iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().jobId())
        return last

    def begin(self) -> None:
        self._drain()
        self.qes.clear()

    def end(self, df=None) -> dict:
        """Fold the op's executions and jobs into ``acc`` and return
        the op's own counters. ``df`` is the frame the op built, whose
        analysis phase ran inside the query function."""
        self._drain()
        op: collections.Counter = collections.Counter()
        # only the frame's phase times are read: asking for its
        # executedPlan would plan it again
        tracked = [df._jdf.queryExecution()] if df is not None else []
        for qe in tracked + list(self.qes):
            for phase, summary in _jmap(qe.tracker().phases()).items():
                op[f"catalyst.{phase}_ms"] += summary.durationMs()
        for qe in self.qes:
            op["catalog.rows_out"] += plan_metrics(qe.executedPlan(), op)
        store = self.jsc.statusStore()
        while True:  # job ids are sequential
            try:
                j = store.job(self._last_job + 1)
            except Py4JJavaError:
                break
            self._last_job += 1
            op["exec.jobs"] += 1
            op["exec.stages"] += j.stageIds().size() - j.numSkippedStages()
            op["exec.tasks"] += j.numTasks() - j.numSkippedTasks()
        self.acc.update(op)
        return op

    def _wrap(self, module: str, name: str, metric: str, calls: str | None) -> None:
        """Time every call of ``module.name`` into ``metric`` (ms) and
        count the calls into ``calls``."""
        mod = importlib.import_module(module)
        orig = getattr(mod, name)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.acc[metric] += (time.perf_counter() - t0) * 1000
                if calls:
                    self.acc[calls] += 1

        setattr(mod, name, timed)
        self._patched.append((mod, name, orig))


class _QeListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, sink: list):
        self.sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java name
        self.sink.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java name
        pass  # a failed execution has no plan to read; the op records the error

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def streaming_layers(progress: list[dict]) -> collections.Counter:
    """Per-layer counters from a stream's recentProgress entries."""
    acc: collections.Counter = collections.Counter()
    for p in progress:
        d = p.get("durationMs") or {}
        acc["streaming.batches"] += 1
        acc["streaming.rows_in"] += int(p.get("numInputRows") or 0)
        acc["streaming.add_batch_ms"] += d.get("addBatch", 0)
        acc["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
        acc["streaming.offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        acc["streaming.wal_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        acc["streaming.lifecycle_ms"] += d.get("triggerExecution", 0) - d.get("addBatch", 0)
    return acc
