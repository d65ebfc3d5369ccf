"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Nothing here runs in the untraced run. When installed, the tracer

* wraps package functions where their callers look them up (module
  attributes, since the package imports most operators inside function
  bodies), recording a span per call;
* gives every span its own Spark job group, ``pb/<workload>/op<i>/s<j>:<name>``,
  so jobs are attributed to exactly one call. Group names never repeat:
  ``statusTracker().getJobIdsForGroup`` accumulates across calls that reuse
  a name;
* registers a JVM ``QueryExecutionListener`` (through the py4j callback
  server) that records Catalyst phase times and the Python-boundary SQL
  metrics of every executed query;
* after each op, reads per-stage executor metrics for the op's jobs from
  Spark's status store.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "timeseriestokenizer_spark"

# (module, function, layer, kind). "build" functions return lazy DataFrames
# (their span time is construction plus any eager jobs fired while building);
# "call" functions do their work when called.
WRAPPED = [
    ("contract", "load", "contract", "build"),
    ("operators.rollup", "rollup_tier", "rollup", "build"),
    ("operators.rollup", "rollup_from_finer", "rollup", "build"),
    ("functions.quantize", "fit_edges", "quantize", "build"),
    ("functions.quantize", "fit_edges_df", "quantize", "build"),
    ("functions.quantize", "quantize_with_edges", "quantize", "build"),
    ("functions.quantize", "make_quantize_udf", "quantize", "build"),
    ("functions.quantize", "make_dequantize_udf", "quantize", "build"),
    ("operators.tpe", "tpe_roundtrip_tokens", "tpe", "build"),
    ("operators.gorilla", "gorilla_pack", "gorilla", "build"),
    ("operators.gorilla", "gorilla_unpack", "gorilla", "build"),
    # plans.incremental binds these names at import time, so they are
    # wrapped in its namespace as well
    ("plans.incremental", "rollup_tier", "rollup", "build"),
    ("plans.incremental", "rollup_from_finer", "rollup", "build"),
    ("plans.incremental", "commit_partition", "manifest", "call"),
]

PYTHON_METRICS = {
    "pythonDataSent": "python.sent_bytes",
    "pythonDataReceived": "python.received_bytes",
    "pythonNumRowsReceived": "python.received_rows",
}


@dataclass
class Span:
    name: str
    layer: str
    kind: str
    parent: int | None
    group: str
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, layer: str, name: str, kind: str = "step"):
        yield


class QueryListener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        try:
            rec = {"func": func_name, "duration_s": duration_ns / 1e9}
            phases = qe.tracker().phases().iterator()
            while phases.hasNext():
                kv = phases.next()
                rec[f"catalyst.{kv._1()}_s"] = kv._2().durationMs() / 1000.0
            rec.update(_python_metrics(qe.executedPlan()))
        except Exception as exc:  # must never raise into the listener bus
            rec = {"func": func_name, "error": repr(exc)}
        with self._lock:
            self.records.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self._lock:
            self.records.append({"func": func_name, "error": str(exception)})

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.records = self.records, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _python_metrics(plan) -> dict:
    """Sum the Python-boundary SQL metrics over a physical plan, descending
    through adaptive plans and query stages."""
    out: dict[str, int] = {}
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for jname, name in PYTHON_METRICS.items():
            opt = metrics.get(jname)
            if opt.isDefined():
                out[name] = out.get(name, 0) + int(opt.get().value())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


class SparkTracer:
    """Spans, job attribution and per-op layer totals for one traced run."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op = -1
        self._op_first_span = 0
        self._restore: list[tuple] = []
        self._listener: QueryListener | None = None

    # -- installation -------------------------------------------------------
    def install(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        for mod_name, attr, layer, kind in WRAPPED:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(module, attr)
            setattr(module, attr, self._wrap(orig, layer, kind))
            self._restore.append((module, attr, orig))
        ensure_callback_server_started(self.sc._gateway)
        self._listener = QueryListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()
        if self._listener is not None:
            self._flush_bus()
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def _wrap(self, fn, layer: str, kind: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__, kind):
                return fn(*args, **kwargs)
        return traced

    # -- spans ----------------------------------------------------------------
    def begin_op(self, index: int) -> None:
        self._op = index
        self._op_first_span = len(self.spans)
        if self._listener is not None:
            self._flush_bus()
            self._listener.drain()  # queries outside any op (checks) are not attributed

    @contextmanager
    def span(self, layer: str, name: str, kind: str = "step"):
        idx = len(self.spans)
        group = f"pb/{self.workload}/op{self._op}/s{idx}:{layer}.{name}"
        parent = self._stack[-1] if self._stack else None
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.spans.append(Span(name, layer, kind, parent, group, time.perf_counter()))
        self._stack.append(idx)
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self.spans[idx].t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def _flush_bus(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    # -- per-op totals --------------------------------------------------------
    def end_op(self, wall_s: float, cores: int) -> dict:
        """Attribute the op's jobs, stages and queries; returns its layer totals."""
        self._flush_bus()
        spans = self.spans[self._op_first_span:]
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        for sp in spans:
            sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))
            for jid in sp.jobs:
                sids = store.job(jid).stageIds()
                stage_ids.update(sids.apply(i) for i in range(sids.size()))
        out = {k: 0.0 for k in LAYER_KEYS}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks()
            out["exec.run_s"] += sd.executorRunTime() / 1e3
            out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.gc_s"] += sd.jvmGcTime() / 1e3
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["exec.output_bytes"] += sd.outputBytes()
        out["exec.jobs"] = sum(len(sp.jobs) for sp in spans)
        out["exec.slot_busy_ratio"] = out["exec.run_s"] / (wall_s * cores)

        for rec in self._listener.drain() if self._listener is not None else []:
            out["catalyst.queries"] += 1
            for key in ("catalyst.analysis_s", "catalyst.optimization_s",
                        "catalyst.planning_s", *PYTHON_METRICS.values()):
                out[key] += rec.get(key, 0)

        by_index = {self._op_first_span + i: sp for i, sp in enumerate(spans)}

        def jobs_under(i: int) -> int:
            return len(by_index[i].jobs) + sum(
                jobs_under(j) for j, sp in by_index.items() if sp.parent == i)

        # a span inside another of the same kind (build) or layer is already
        # covered by its outermost ancestor
        for i, sp in by_index.items():
            parent = by_index.get(sp.parent)
            if sp.kind == "build" and (parent is None or parent.kind != "build"):
                out["build.wall_s"] += sp.seconds
                out["build.jobs"] += jobs_under(i)
            if parent is None or parent.layer != sp.layer:
                for key in (SPAN_SECONDS.get(sp.layer), SPAN_SECONDS.get(f"{sp.layer}.{sp.name}")):
                    if key is not None:
                        out[key] += sp.seconds
                if f"{sp.layer}.calls" in out:
                    out[f"{sp.layer}.calls"] += 1
                if f"{sp.layer}.jobs" in out:
                    out[f"{sp.layer}.jobs"] += jobs_under(i)
        self.ops.append({"op": self._op, "wall_s": wall_s, **out})
        return out

    def layer_times(self) -> dict:
        """Total and self seconds per layer over every recorded span (a
        span's self time excludes the part its child spans cover)."""
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.seconds
        out: dict[str, dict] = {}
        for i, sp in enumerate(self.spans):
            key = f"{sp.layer}.{sp.name}"
            agg = out.setdefault(key, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
            agg["calls"] += 1
            agg["total_s"] += sp.seconds
            agg["self_s"] += sp.seconds - child_time[i]
            agg["jobs"] += len(sp.jobs)
        return out

    def dump(self) -> dict:
        return {
            "workload": self.workload,
            "ops": self.ops,
            "layers": self.layer_times(),
            "spans": [sp.__dict__ for sp in self.spans],
        }


# layers whose wrapped calls are counted per op ("<layer>.calls"/".jobs")
COUNTED_LAYERS = ["contract", "quantize", "tpe", "gorilla", "rollup", "manifest", "incremental",
                  "retention"]

# seconds of the outermost spans of a layer, or of one named span
SPAN_SECONDS = {
    "contract": "contract.load_s",
    "quantize": "quantize.build_s",
    "gorilla.gorilla_pack": "gorilla.pack_s",
    "manifest": "manifest.commit_s",
    "incremental.refresh_tiers": "incremental.refresh_day_s",
    "incremental.compact_store": "incremental.compact_s",
    "retention.retention_sweep": "retention.sweep_s",
}

LAYER_KEYS = [
    "build.wall_s", "build.jobs",
    "catalyst.queries", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.output_bytes", "exec.slot_busy_ratio",
    *PYTHON_METRICS.values(),
    *(f"{layer}.{what}" for layer in COUNTED_LAYERS for what in ("calls", "jobs")
      # the benchmark's own steps: one call each per op by construction
      if f"{layer}.{what}" not in ("incremental.calls", "retention.calls")),
    *SPAN_SECONDS.values(),
]


def unit_of(key: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith("_per_turn"):
        return "bytes/turn"
    if key.endswith("_ratio"):
        return "ratio"
    return "count"
