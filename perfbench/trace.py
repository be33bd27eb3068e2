"""Span recorder, plan-metric walker and stage totals for traced runs.

Spans are recorded from the benchmark's side only: ``install`` wraps
public entry points of the facade, the ingest layer and the pyspark
calls the store makes. A wrapper records nothing while ``enabled`` is
False, so a traced run can alternate traced and untraced operations
and report the difference as the tracing overhead.

After each traced ``collect`` inside an operation the executed plan is
walked for operator metrics (final AQE plan, each query stage's own
plan); this reads metrics Spark already keeps and starts no job. The
walk is the tracer's own work: it has a span of its own,
``trace.walk``, which every layer time leaves out. Stage totals come from
the JVM status store at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import time

_SCAN_NODES = ("Scan", "BatchScan")
# the plan.* sums one walk produces
PLAN_KEYS = (
    "scan_files", "scan_bytes", "scan_rows", "scan_ms", "rows_out", "agg_ms",
    "peak_mem_bytes", "spill_bytes", "shuffle_bytes", "shuffle_records",
    "exchanges", "single_partition_exchanges", "broadcast_bytes",
)


class Recorder:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.plans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.request = None

    # ---------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "parent": parent,
            "request": self.request, "start": time.perf_counter(), "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, owner, attr: str, name: str, after=None):
        orig = getattr(owner, attr)
        rec = self
        if inspect.isgeneratorfunction(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                if not rec.enabled:
                    yield from orig(*a, **k)
                    return
                with rec.span(name):
                    yield from orig(*a, **k)
        else:
            @functools.wraps(orig)
            def wrapper(*a, **k):
                if not rec.enabled:
                    return orig(*a, **k)
                with rec.span(name) as sp:
                    out = orig(*a, **k)
                if after is not None:
                    after(a, out, sp)
                return out
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self):
        from pyspark.sql.classic import dataframe as classic_df
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.session import SparkSession

        import kairos_spark.ingest as ingest
        import kairos_spark.timeseries as timeseries

        for m in ("get", "series", "iterate", "insert", "bulk_insert",
                  "ingest_df", "get_df", "series_df", "scan"):
            self._wrap(timeseries.Timeseries, m, f"timeseries.{m}")
        # the facade imports bucketize by name, so patch both bindings
        self._wrap(ingest, "bucketize", "ingest.bucketize")
        self._wrap(timeseries, "bucketize", "ingest.bucketize")
        self._wrap(classic_df.DataFrame, "collect", "collect", after=self._after_collect)
        self._wrap(SparkSession, "createDataFrame", "createDataFrame")
        self._wrap(DataFrameWriter, "parquet", "store.write")

    def uninstall(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _after_collect(self, args, rows, sp):
        sp["rows"] = len(rows)
        if not any(s["name"] == "op" for s in self._stack):
            return  # set-up, not a measured operation
        with self.span("trace.walk"):
            try:
                m = plan_metrics(args[0]._jdf.queryExecution().executedPlan())
            except Exception as e:  # a plan that cannot be walked costs only its metrics
                m = {"walk_error": repr(e)}
        m["span"] = sp["id"]
        self.plans.append(m)

    # --------------------------------------------------------------- output

    def dump(self, path: str):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "plans": self.plans}, f)


# ----------------------------------------------------------- plan walker


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = m.value()
        if m.metricType() == "nsTiming":
            v = v / 1e6
        out[kv._1()] = v
    return out


def plan_metrics(executed) -> dict:
    """Sum the operator metrics of one executed plan into plan.* keys."""
    acc = dict.fromkeys(PLAN_KEYS, 0)
    root = executed
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        root = root.finalPhysicalPlan()
    first = [True]

    def visit(node):
        cls = node.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            visit(node.plan())
        elif cls == "AdaptiveSparkPlanExec":
            visit(node.finalPhysicalPlan())
        else:
            name = node.nodeName()
            ms = _metrics(node)
            if first[0] and "numOutputRows" in ms:
                acc["rows_out"] += ms["numOutputRows"]
                first[0] = False
            if any(s in name for s in _SCAN_NODES):
                acc["scan_files"] += ms.get("numFiles", 0)
                acc["scan_bytes"] += ms.get("filesSize", 0)
                acc["scan_rows"] += ms.get("numOutputRows", 0)
                acc["scan_ms"] += ms.get("scanTime", 0)
            acc["agg_ms"] += ms.get("aggTime", 0)
            acc["peak_mem_bytes"] += ms.get("peakMemory", 0)
            acc["spill_bytes"] += ms.get("spillSize", 0)
            if cls == "ShuffleExchangeExec":
                acc["exchanges"] += 1
                acc["shuffle_bytes"] += ms.get("shuffleBytesWritten", 0)
                acc["shuffle_records"] += ms.get("shuffleRecordsWritten", 0)
                if node.outputPartitioning().numPartitions() == 1:
                    acc["single_partition_exchanges"] += 1
            elif cls == "BroadcastExchangeExec":
                acc["broadcast_bytes"] += ms.get("dataSize", 0)
        children = node.children().iterator()
        while children.hasNext():
            visit(children.next())

    visit(root)
    return acc


# ---------------------------------------------------------- stage totals


def stage_totals(spark, stage_ids) -> dict:
    """Task count and executor times of the given stages, read from the
    status store (AppStatusStore.stageList takes 5 arguments in 4.1)."""
    jvm = spark.sparkContext._gateway.jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    wanted = set(stage_ids)
    out = {"tasks": 0, "executor_run_ms": 0, "executor_cpu_ms": 0.0, "gc_ms": 0}
    it = store.stageList(empty, False, False, quantiles, jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() not in wanted:
            continue
        out["tasks"] += s.numCompleteTasks()
        out["executor_run_ms"] += s.executorRunTime()
        out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        out["gc_ms"] += s.jvmGcTime()
    return out


class JobGroups:
    """One Spark job group per operation, so jobs and stages can be
    attributed to the operation that ran them. Group names come from one
    counter for the whole run, so no two operations share a group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: dict[str, bool] = {}

    def start(self, traced: bool) -> str:
        g = f"perfbench-{len(self.groups)}"
        self.groups[g] = traced
        self.sc.setJobGroup(g, g)
        return g

    def counts(self, traced: bool = True) -> tuple[int, list[int]]:
        jobs = 0
        stages: list[int] = []
        tracker = self.sc.statusTracker()
        for g, t in self.groups.items():
            if t != traced:
                continue
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                jobs += 1
                if info is not None:
                    stages.extend(info.stageIds)
        return jobs, stages
