"""Per-layer tracing for the traced run (``--trace 1``); never imported by
an untraced run.

Spans are recorded from outside the program: wrappers around the public
functions of each layer, installed in every loaded module that holds a
reference to them. A span is (op, span id, parent, name, start, end); spans
stay in memory until the run writes them out. Spark work is counted per
operation from the status store, by the job group the wrappers set.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import re
import sys
import threading
import time

#: module-level functions: (module, attribute, span name)
FUNCTIONS = (
    ("de_polars_spark.engine.session", "get_spark", "engine.session"),
    ("de_polars_spark.sources.registry", "register_testdata", "sources.register"),
    ("de_polars_spark.engine.dialect", "translate_duckdb_sql", "engine.translate"),
    ("de_polars_spark.views.kpi", "register_kpi_views", "views.register"),
    # the materialized KPI wave (batch's kpi_views artifact)
    ("de_polars_spark.inventory.kpi_views", "_ensure_kpi_views", "views.materialize"),
)

ANALYTICS = ("kpi", "spend", "optimization", "allocation", "discounts", "ai", "mcp")
ROLLUPS = ("get_dashboard_data", "run_cost_health_check", "generate_executive_summary")
COLLECTS = ("take", "collect", "toPandas")


def _public_methods(cls):
    return [n for n, v in vars(cls).items()
            if callable(v) and not isinstance(v, (staticmethod, classmethod))
            and not n.startswith("_")]


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.op = "setup"
        self.spark = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []  # (owner, attribute, original)
        self._targets = None
        self._server_cls = None

    # ------------------------------------------------------------------ #
    # spans                                                              #
    # ------------------------------------------------------------------ #
    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _in_analytics(self) -> bool:
        return any(n.startswith("analytics.") and n != "analytics.collect"
                   for _, n in self._stack())

    def wrap(self, name: str, fn, only_if=None, on_enter=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if only_if is not None and not only_if():
                return fn(*args, **kwargs)
            if on_enter is not None:
                on_enter()
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else 0
            stack.append((sid, name))
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                stack.pop()
                tracer.spans.append((tracer.op, sid, parent, name, start, end))

        return traced

    # ------------------------------------------------------------------ #
    # installing the wrappers                                            #
    # ------------------------------------------------------------------ #
    def _collect_targets(self) -> list[tuple]:
        """(owner, attribute, span name, options) for every layer boundary."""
        from pyspark.sql import DataFrame

        # import every module that may hold a reference to a wrapped
        # function, so that each reference is found below
        import de_polars_spark.inventory  # noqa: F401
        import start_api  # noqa: F401
        from de_polars_spark.api.handlers import FinOpsHandlers
        from de_polars_spark.client import FinOpsEngine
        from de_polars_spark.engine.core import SparkEngine

        targets = []
        for mod_name, attr, span in FUNCTIONS:
            original = getattr(importlib.import_module(mod_name), attr)
            for module in list(sys.modules.values()):
                for key, value in list(getattr(module, "__dict__", {}).items()):
                    if value is original:
                        targets.append((module, key, span, {}))
        targets += [
            (SparkEngine, "register", "sources.register", {}),
            (SparkEngine, "validate_select_only", "engine.validate", {}),
            (SparkEngine, "query", "engine.query", {}),
        ]
        targets += [(FinOpsEngine, m, "client.rollup", {}) for m in ROLLUPS]
        for short in ANALYTICS:
            module = importlib.import_module(f"de_polars_spark.analytics.{short}")
            for cls in vars(module).values():
                if isinstance(cls, type) and cls.__module__ == module.__name__:
                    targets += [(cls, m, f"analytics.{short}", {})
                                for m in _public_methods(cls)]
        targets += [(FinOpsHandlers, m, "api.handler", {"on_enter": self._job_group})
                    for m in _public_methods(FinOpsHandlers)]
        try:  # Spark 4 splits the DataFrame API from its classic implementation
            from pyspark.sql.classic.dataframe import DataFrame as Frame
        except ImportError:
            Frame = DataFrame
        for m in COLLECTS:
            owner = next(c for c in Frame.__mro__ if m in vars(c))
            targets.append((owner, m, "analytics.collect", {"only_if": self._in_analytics}))
        return targets

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def install(self) -> None:
        if self._patches:
            return
        if self._targets is None:
            self._targets = self._collect_targets()
        targets = list(self._targets)
        if self._server_cls is not None:
            # the stdlib server's request handling: dispatch to last write
            targets += [(self._server_cls, a, "api.server", {})
                        for a in ("do_GET", "do_POST")]
        for owner, attr, span, options in targets:
            original = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patches.append((owner, attr, original))
            setattr(owner, attr, self.wrap(span, original, **options))

    def set_server(self, handler_cls) -> None:
        """Also trace ``handler_cls`` (from ``start_api.make_handler_class``)."""
        self._server_cls = handler_cls
        if self._patches:
            self.uninstall()
            self.install()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _job_group(self) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(self.group(self.op), self.op)

    @staticmethod
    def group(op) -> str:
        return f"finbench-{op}"

    # ------------------------------------------------------------------ #
    # derived numbers                                                    #
    # ------------------------------------------------------------------ #
    def self_times(self, ops) -> dict[str, float]:
        """Summed self time per span name over ``ops``: a span's duration
        minus the union of its children's intervals."""
        ops = set(ops)
        spans = [s for s in self.spans if s[0] in ops]
        children: dict[int, list] = {}
        for s in spans:
            children.setdefault(s[2], []).append((s[4], s[5]))
        out: dict[str, float] = {}
        for _, sid, _, name, start, end in spans:
            covered, reach = 0.0, start
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, reach), min(c1, end)
                if c1 > c0:
                    covered += c1 - c0
                    reach = c1
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out

    def durations(self, op, name) -> float:
        return sum(s[5] - s[4] for s in self.spans if s[0] == op and s[3] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(zip(
                    ("op", "span", "parent", "name", "start", "end"), s))) + "\n")


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class SparkCounters:
    """Counts read from the JVM: the status store (per job group), the SQL
    status store, ``CodegenMetrics`` and the JVM's collectors."""

    STAGE_FIELDS = ("tasks", "executor_run_ms", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "output_bytes")

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def op_counts(self, group: str) -> dict[str, float]:
        """Jobs, completed stages and stage metrics of one job group."""
        self.drain()
        store = self.jsc.statusStore()
        out = dict.fromkeys(("jobs", "stages") + self.STAGE_FIELDS, 0)
        seen = set()
        for job_id in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            for stage_id in self._seq(store.job(job_id).stageIds()):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # evicted or never submitted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
        return out

    def codegen(self) -> tuple[int, float]:
        """(compilations so far, mean compile ms of the metric's reservoir)."""
        hist = self._codegen.METRIC_COMPILATION_TIME()
        return hist.getCount(), hist.getSnapshot().getMean()

    def gc_seconds(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def sql_executions(self) -> set:
        store = self.spark._jsparkSession.sharedState().statusStore()
        return {e.executionId() for e in self._seq(store.executionsList())}

    def broadcast_bytes_max(self, execution_ids) -> float:
        """Largest ``data size`` of any BroadcastExchange in the executions."""
        self.drain()
        store = self.spark._jsparkSession.sharedState().statusStore()
        best = 0.0
        for eid in execution_ids:
            try:
                values = self._seq(store.executionMetrics(eid))
                nodes = self._seq(store.planGraph(eid).allNodes())
            except Exception:
                continue
            for node in nodes:
                if node.name() != "BroadcastExchange":
                    continue
                for metric in self._seq(node.metrics()):
                    if metric.name() != "data size":
                        continue
                    text = values.get(metric.accumulatorId())
                    sizes = [float(n) * _UNIT[u] for n, u in _SIZE.findall(str(text or ""))]
                    if sizes:
                        best = max(best, max(sizes))
        return best
