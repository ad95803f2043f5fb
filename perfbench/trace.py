"""Spans around the benchmark's calls into the package, and SQL metrics
from the executed plans of the queries those calls ran.

Spans are kept in memory (``Tracer.spans``) and written out with the
run's result.  Plan metrics come from a QueryExecutionListener that the
traced run registers through the py4j callback server: for every query
that finishes (the benchmark's own actions and the package's internal
ones alike, such as region collects, count probes and checkpoint
writes) it walks the executed plan -- unwrapping
``AdaptiveSparkPlanExec.executedPlan()`` and ``*QueryStageExec.plan()``
-- and keeps each node's class, Python UDF names and metric values.
The untraced run registers nothing.
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from collections import defaultdict

# Python plan nodes are attributed to a layer by node class, and for
# ArrowEvalPythonExec by the name of the UDF they evaluate: ``fn`` is the
# leaf-encode UDF of functions.udfs, ``_keep`` the refine filter of
# operators.spatial_join.
ARROW_LAYER_BY_UDF = {"fn": "encode", "_keep": "refine"}
ARROW_LAYER_BY_CLASS = {"MapInArrowExec": "synth", "MapInPandasExec": "cover"}
ARROW_LAYERS = ("synth", "encode", "refine", "cover")
ARROW_FIELDS = ("init_ms", "compute_ms", "bytes_sent", "bytes_received", "rows")
PLAN_METRICS = (
    "codegen.pipeline_ms", "shuffle.write_ms", "shuffle.bytes_written",
    "shuffle.records", "agg.ms", "broadcast.bytes", "broadcast.build_ms",
    "scan.time_ms", "scan.bytes", "plans.checkpoints.rows_written",
    "plans.checkpoints.bytes_written", "plans.checkpoints.files_written",
) + tuple(f"arrow.{layer}.{field}" for layer in ARROW_LAYERS
          for field in ARROW_FIELDS)


class Tracer:
    """In-memory spans: name, trial, start and end (seconds since the
    tracer was made).  With a recorder, each span also keeps the walked
    plans of the queries that completed inside it."""

    def __init__(self, recorder: "PlanRecorder | None" = None):
        self.t0 = time.perf_counter()
        self.recorder = recorder
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, trial: int):
        if self.recorder is not None:
            self.recorder.take()  # queries before the span are not its own
        rec = {"name": name, "trial": trial,
               "start": time.perf_counter() - self.t0}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            if self.recorder is not None:
                rec["executions"] = self.recorder.take()
            self.spans.append(rec)

    def get(self, name: str, trial: int) -> dict:
        for rec in self.spans:
            if rec["name"] == name and rec["trial"] == trial:
                return rec
        raise KeyError((name, trial))

    def duration(self, name: str, trial: int) -> float:
        rec = self.get(name, trial)
        return rec["end"] - rec["start"]


# one py4j call per node for all its metrics: the Scala map's toString,
# e.g. "Map(pipelineTime -> SQLMetric(id: 102, name: Some(duration), value: 20))"
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: -?\d+, name: .*?, value: (-?\d+)\)")


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def parse_metrics(text: str) -> dict[str, int]:
    return {k: int(v) for k, v in _METRIC_RE.findall(text)}


def walk_plan(jvm, plan) -> list[dict]:
    """Nodes of an executed physical plan: [{"cls", "udfs", "metrics"}]."""
    nodes: list[dict] = []
    seen: set[int] = set()  # a reused exchange is reachable twice
    todo = [plan]
    while todo:
        node = todo.pop()
        ident = jvm.java.lang.System.identityHashCode(node)
        if ident in seen:
            continue
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        udfs: list[str] = []
        if cls == "ArrowEvalPythonExec":
            udfs = [u.name() for u in _seq(jvm, node.udfs())]
        nodes.append({"cls": cls, "udfs": udfs,
                      "metrics": parse_metrics(node.metrics().toString())})
        todo.extend(_seq(jvm, node.children()))
        todo.extend(_seq(jvm, node.subqueries()))
    return nodes


def plan_metrics(executions: list[list[dict]]) -> dict[str, float]:
    """Sum node metrics per layer over the walked plans of several
    query executions."""
    out: dict[str, float] = defaultdict(float)
    for name in PLAN_METRICS:
        out[name] = 0.0
    for nodes in executions:
        for node in nodes:
            cls, m = node["cls"], node["metrics"]
            if cls == "WholeStageCodegenExec":
                out["codegen.pipeline_ms"] += m.get("pipelineTime", 0)
            elif cls == "ShuffleExchangeExec":
                out["shuffle.write_ms"] += m.get("shuffleWriteTime", 0) / 1e6
                out["shuffle.bytes_written"] += m.get("shuffleBytesWritten", 0)
                out["shuffle.records"] += m.get("shuffleRecordsWritten", 0)
            elif cls == "HashAggregateExec":
                out["agg.ms"] += m.get("aggTime", 0)
            elif cls == "BroadcastExchangeExec":
                out["broadcast.bytes"] += m.get("dataSize", 0)
                out["broadcast.build_ms"] += (m.get("collectTime", 0)
                                              + m.get("buildTime", 0)
                                              + m.get("broadcastTime", 0))
            elif cls == "FileSourceScanExec":
                out["scan.time_ms"] += m.get("scanTime", 0)
                out["scan.bytes"] += m.get("filesSize", 0)
            elif cls == "DataWritingCommandExec":
                out["plans.checkpoints.rows_written"] += m.get("numOutputRows", 0)
                out["plans.checkpoints.bytes_written"] += m.get("numOutputBytes", 0)
                out["plans.checkpoints.files_written"] += m.get("numFiles", 0)
            layer = ARROW_LAYER_BY_CLASS.get(cls)
            if cls == "ArrowEvalPythonExec":
                layer = next((ARROW_LAYER_BY_UDF[u] for u in node["udfs"]
                              if u in ARROW_LAYER_BY_UDF), None)
            if layer is not None:
                p = f"arrow.{layer}."
                out[p + "init_ms"] += (m.get("pythonBootTime", 0)
                                       + m.get("pythonInitTime", 0))
                out[p + "compute_ms"] += m.get("pythonTotalTime", 0)
                out[p + "bytes_sent"] += m.get("pythonDataSent", 0)
                out[p + "bytes_received"] += m.get("pythonDataReceived", 0)
                out[p + "rows"] += m.get("pythonNumRowsReceived", 0)
    return dict(out)


class PlanRecorder:
    """Registers a QueryExecutionListener on the session and keeps the
    walked plan of every query that completes.  ``take()`` waits for
    the listener bus to drain and hands back what arrived since the
    last call."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._jvm = spark._jvm
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._lock = threading.Lock()
        self._pending: list[list[dict]] = []
        self.errors: list[str] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # QueryExecutionListener, called on the listener bus thread
    def onSuccess(self, func_name, qe, duration_ns):
        try:
            nodes = walk_plan(self._jvm, qe.executedPlan())
            with self._lock:
                self._pending.append(nodes)
        except Exception as exc:  # a lost plan must not kill the bus thread
            self.errors.append(f"{func_name}: {exc!r}")

    def onFailure(self, func_name, qe, exception):
        self.errors.append(f"{func_name} failed: {exception}")

    def take(self) -> list[list[dict]]:
        self._bus.waitUntilEmpty()
        with self._lock:
            out, self._pending = self._pending, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
