"""Spans recorded from outside the engine, and Spark status-store capture.

The traced run wraps the public functions of each engine module
(``install_probes``) so every call records a span: name, start, end,
parent span and the request id of the operation it serves. Spans stay
in memory and are written out when the run ends. A layer's self time is
its span time minus the part covered by its child spans.

Spark's own counters come from the status stores after the run: every
operation runs under a Spark job group named by its request id, so each
stage is attributed to the operation that launched it.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (owner, attribute, span name). Owners are "module:Class" for methods
# and "module" for functions; a function is re-bound wherever a loaded
# vectordb_spark module imported it by name.
PROBES = [
    ("vectordb_spark.server:EngineAPI", "handle", "engine"),
    ("vectordb_spark.catalog:Warehouse", "database", "catalog"),
    ("vectordb_spark.catalog:Database", "table", "catalog"),
    ("vectordb_spark.expr.parser", "parse_filter", "expr"),
    ("vectordb_spark.expr.compile", "to_spark_column", "expr"),
    ("vectordb_spark.expr.prune", "range_bounds", "expr"),
    ("vectordb_spark.table:Table", "search_df", "table.plan"),
    ("vectordb_spark.table:Table", "scan_df", "table.plan"),
    ("vectordb_spark.table:Table", "query", "table.read"),
    ("vectordb_spark.table:Table", "get", "table.read"),
    ("vectordb_spark.table:Table", "insert", "table.insert"),
    ("vectordb_spark.table:Table", "delete", "table.delete"),
    ("vectordb_spark.table:Table", "insert_df", "table.append"),
    ("vectordb_spark.operators.facets", "compute_facets", "facets"),
    ("pyspark.sql.classic.dataframe:DataFrame", "collect", "table.collect"),
    ("pyspark.sql.classic.dataframe:DataFrame", "toPandas", "table.collect"),
    ("pyspark.sql.classic.dataframe:DataFrame", "count", "table.collect"),
]
# Spans whose DataFrame's Catalyst phase times are read after the call.
_PLAN_PHASE_SPANS = {"table.collect"}


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self.plan_ms: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        c0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "name": name,
        }
        stack.append(rec)
        if rid is not None and self.spark is not None:
            self.spark.sparkContext.setJobGroup(rid, name)
        rec["t0"] = time.perf_counter()
        self.cost_s += rec["t0"] - c0
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            if rid is not None and self.spark is not None:
                self.spark.sparkContext._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)
            self.cost_s += time.perf_counter() - rec["t1"]

    def _wrap(self, fn, name: str, rid_from_payload: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rid = None
            if rid_from_payload:  # EngineAPI.handle(self, method, path, payload, qs)
                payload = args[3] if len(args) > 3 else kwargs.get("payload")
                rid = payload.get("_rid") if isinstance(payload, dict) else None
            with tracer.span(name, rid) as rec:
                out = fn(*args, **kwargs)
            if name in _PLAN_PHASE_SPANS and rec["rid"] is not None:
                tracer._record_plan_phases(args[0], rec["rid"])
            return out

        return traced

    def _record_plan_phases(self, df, rid: str) -> None:
        from py4j.protocol import Py4JError

        c0 = time.perf_counter()
        try:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            total = 0.0
            while it.hasNext():
                total += float(it.next()._2().durationMs())
            self.plan_ms[rid] += total
        except Py4JError:  # a frame without a tracked plan adds no phase time
            pass
        self.cost_s += time.perf_counter() - c0

    def install_probes(self) -> None:
        """Wrap every function in ``PROBES``. Call once per process."""
        import importlib

        for owner, attr, name in PROBES:
            mod_name, _, cls_name = owner.partition(":")
            mod = importlib.import_module(mod_name)
            if cls_name:
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[attr]
                setattr(cls, attr, self._wrap(orig, name, attr == "handle"))
                continue
            orig = getattr(mod, attr)
            traced = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if (mname == mod_name or mname.startswith("vectordb_spark")) and (
                    getattr(m, attr, None) is orig
                ):
                    setattr(m, attr, traced)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time in seconds per span name: span time minus the
    time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["t0"], s["t1"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s["t1"] - s["t0"]
        out[s["name"]] += dur - _covered(children.get(s["id"], []), s["t0"], s["t1"])
    return dict(out)


def span_counts(spans: list[dict]) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for s in spans:
        out[s["name"]] += 1
    return dict(out)


# ------------------------------------------------------- status stores

SPARK_RETAIN_CONF = {
    # keep every job/stage/execution of a run in the status stores
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}

STAGE_FIELDS = {
    "stages": None,
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",  # ns, scaled below
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_by_group(spark) -> dict[str, dict[str, float]]:
    """Sum stage metrics and job counts per Spark job group."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if not g.isDefined():
            continue
        group = g.get()
        rec = out[group]
        rec["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            rec["job_ms"] += done.get().getTime() - sub.get().getTime()
        for sid in _seq(job.stageIds()):
            group_of_stage.setdefault(int(sid), group)
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, empty, None)):
        group = group_of_stage.get(int(st.stageId()))
        if group is None or st.status().toString() == "SKIPPED":
            continue
        rec = out[group]
        for key, attr in STAGE_FIELDS.items():
            rec[key] += 1 if attr is None else float(getattr(st, attr)())
    for rec in out.values():
        rec["executor_cpu_ms"] /= 1e6
    return {g: dict(r) for g, r in out.items()}
