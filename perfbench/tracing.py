"""Benchmark-side tracing: spans around calls into the engine's modules,
pin counters, and Spark's own scheduler and SQL operator metrics.

Nothing here edits the engine. ``Tracer.install`` replaces the public
functions of the traced modules with span-recording wrappers *before*
``registry`` is imported, so query modules that import operator
functions at module level or inside their bodies both get the wrapped
attribute. While ``Tracer.enabled`` is false a wrapper only checks the
flag and calls through.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import time
from collections import defaultdict

# module (relative to the package) -> layer prefix used in metric names
TRACED_MODULES = {
    "session": "session",
    "sources.readers": "readers",
    "sources.versioned": "versioned",
    "streaming.jobs": "stream",
    "streaming.retry": "retry",
    "operators.aggregates": "aggregates",
    "operators.joins": "joins",
    "operators.windows": "windows",
    "operators.dedup": "dedup",
    "operators.similarity": "similarity",
    "operators.graph": "graph",
    "operators.ml": "ml",
    "operators.text": "text",
    "operators.multimodal": "multimodal",
}
BUILD_MODULES = ("dedup", "similarity", "graph", "ml", "text", "multimodal",
                 "windows")
PIN_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
PACKAGE = "travel_data_pipeline_spark"


class Span:
    """One call into a traced function; ``parent`` and ``idx`` index
    ``Tracer.spans``; spans of one query share ``qid``."""
    __slots__ = ("name", "start", "end", "parent", "qid", "idx")

    def __init__(self, name: str, start: float, parent: int, qid: str,
                 idx: int):
        self.name, self.start, self.end = name, start, start
        self.parent, self.qid, self.idx = parent, qid, idx


class Tracer:
    """Records spans in memory; reports per-layer self time and counts."""

    def __init__(self) -> None:
        self.enabled = False
        self.qid = ""
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.retry_calls = 0
        self.retry_attempts = 0

    # -- span recording --------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            parent = tracer._stack[-1] if tracer._stack else -1
            span = Span(name, time.perf_counter(), parent, tracer.qid,
                        len(tracer.spans))
            tracer.spans.append(span)
            tracer._stack.append(span.idx)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
        return wrapper

    def _wrap_retry(self, fn):
        """streaming.retry.with_retries: count wrapped calls and attempts."""
        tracer = self

        @functools.wraps(fn)
        def with_retries(inner, *args, **kwargs):
            def counted(*a, **kw):
                if tracer.enabled:
                    tracer.retry_attempts += 1
                return inner(*a, **kw)

            wrapped = fn(counted, *args, **kwargs)

            def call(*a, **kw):
                if tracer.enabled:
                    tracer.retry_calls += 1
                return wrapped(*a, **kw)
            return call
        return with_retries

    def install(self) -> None:
        """Wrap every public function of the traced modules and the
        DataFrame pin methods. Must run before ``registry`` is imported."""
        for rel, layer in TRACED_MODULES.items():
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                if rel == "streaming.retry" and attr == "with_retries":
                    setattr(mod, attr, self._wrap_retry(fn))
                else:
                    setattr(mod, attr, self._wrap(f"{layer}.{attr}", fn))
        try:   # Spark 4 sessions build the classic subclass
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame
        for meth in PIN_METHODS:
            setattr(DataFrame, meth,
                    self._wrap(f"pin.{meth}", getattr(DataFrame, meth)))

    # -- reporting -------------------------------------------------------
    @staticmethod
    def self_times(spans: list[Span], key=lambda s: s.name) -> dict:
        """Self time per ``key(span)``: duration minus the part covered
        by direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s.parent >= 0:
                child_time[s.parent] += s.end - s.start
        out: dict = defaultdict(float)
        for s in spans:
            out[key(s)] += (s.end - s.start) - child_time[s.idx]
        return out

    def query_layers(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """{query id: {layer: self seconds}} for the spans given."""
        out: dict[str, dict[str, float]] = defaultdict(dict)
        for (qid, layer), t in self.self_times(
                spans, key=lambda s: (s.qid, s.name.split(".", 1)[0])).items():
            out[qid][layer] = round(t, 4)
        return dict(out)

    def layer_report(self, spans: list[Span]) -> dict[str, float]:
        """build.<module>.self_s / .calls, pin.count / .self_s, and
        per-layer self time for every traced layer."""
        selfs = self.self_times(spans)
        calls: dict[str, int] = defaultdict(int)
        for s in spans:
            calls[s.name] += 1
        out: dict[str, float] = {}
        for layer in set(TRACED_MODULES.values()) | {"pin"}:
            names = [n for n in selfs if n.split(".", 1)[0] == layer]
            out[f"layer.{layer}.self_s"] = sum(selfs[n] for n in names)
            out[f"layer.{layer}.calls"] = sum(calls[n] for n in names)
        for mod in BUILD_MODULES:
            out[f"build.{mod}.self_s"] = out[f"layer.{mod}.self_s"]
            out[f"build.{mod}.calls"] = out[f"layer.{mod}.calls"]
        # a pin reached through another pin method counts once
        outer = [s for s in spans if s.name.startswith("pin.")
                 and (s.parent < 0
                      or not self.spans[s.parent].name.startswith("pin."))]
        out["pin.count"] = len(outer)
        out["pin.self_s"] = out["layer.pin.self_s"]
        return out


# -- Spark scheduler and SQL metrics ---------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Spark's formatted SQL metric ("1,234", "95.9 KiB", "8.1 s", or a
    "total (min, med, max ...)\\n<total> (...)" block) -> bytes/seconds/count."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# (node-name predicate, metric name, output key)
_SQL_RULES = [
    (lambda n: n.startswith("Scan"), "number of files read", "readers.files"),
    (lambda n: n.startswith("Scan"), "size of files read", "readers.bytes"),
    (lambda n: n.startswith("Scan parquet"), "number of output rows",
     "readers.rows"),
    (lambda n: n.startswith("Scan"), "scan time", "readers.time_s"),
    (lambda n: n == "Exchange", "shuffle bytes written",
     "exchange.bytes_written"),
    (lambda n: n == "Exchange", "shuffle records written",
     "exchange.records_written"),
    (lambda n: n == "Exchange", "fetch wait time", "exchange.fetch_wait_s"),
    (lambda n: n == "AQEShuffleRead", "number of partitions",
     "exchange.aqe_read_partitions"),
    (lambda n: n.endswith("Aggregate"), "time in aggregation build",
     "agg.time_s"),
    (lambda n: n.endswith("Aggregate"), "spill size", "agg.spill_bytes"),
    (lambda n: n.endswith("Aggregate"), "peak memory", "agg.peak_mem_bytes"),
    (lambda n: n == "BroadcastExchange", "time to build",
     "join.build_time_s"),
    (lambda n: n == "ShuffledHashJoin", "time to build hash map",
     "join.build_time_s"),
    (lambda n: n == "Sort", "sort time", "sort.time_s"),
    (lambda n: n == "Sort", "spill size", "sort.spill_bytes"),
    (lambda n: True, "data sent to Python workers", "python.bytes_sent"),
    (lambda n: True, "data returned from Python workers",
     "python.bytes_received"),
    (lambda n: True, "time to run Python workers", "python.run_s"),
    (lambda n: True, "time to start Python workers", "python.boot_s"),
]
_NODE_COUNTS = {"Exchange": "exchange.nodes",
                "BroadcastHashJoin": "join.broadcast_nodes",
                "SortMergeJoin": "join.smj_nodes",
                "BroadcastNestedLoopJoin": "join.bnlj_nodes",
                "Window": "window.nodes"}
SQL_KEYS = sorted({k for _, _, k in _SQL_RULES} | set(_NODE_COUNTS.values()))


class SparkMetrics:
    """Reads Spark's SQL status store and status tracker (works with
    ``spark.ui.enabled=false``). SQL executions are attributed to the
    item that ran since the previous read; jobs to their job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen_exec = -1

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def jobs(self, group: str) -> dict[str, int]:
        """Jobs, stages and tasks launched under a job group."""
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stages += 1
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def _new_executions(self) -> list[int]:
        """Ids of executions recorded since the previous call."""
        execs = self.store.executionsList()   # ascending executionId
        ids = []
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= self.seen_exec:
                break
            ids.append(eid)
        self.seen_exec = max([self.seen_exec, *ids])
        return ids

    def skip(self) -> None:
        """Forget executions so far (earlier, untraced passes)."""
        self._new_executions()

    def sql(self) -> dict[str, float]:
        """Sum operator metrics over executions since the previous read."""
        out = dict.fromkeys(SQL_KEYS, 0.0)
        for eid in self._new_executions():
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name().strip()
                if name in _NODE_COUNTS:
                    out[_NODE_COUNTS[name]] += 1
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    pname = pm.name()
                    for pred, mname, key in _SQL_RULES:
                        if pname == mname and pred(name):
                            v = values.get(pm.accumulatorId())
                            out[key] += parse_metric(
                                v.get() if v.isDefined() else None)
        return out

    def storage_bytes(self) -> int:
        """Bytes held by cached/checkpointed blocks right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
