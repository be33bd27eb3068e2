"""Per-layer metrics of a traced run, computed from the recorded spans,
the walked plans and the status store."""

from __future__ import annotations

import statistics

from .gen import READ_KINDS as _KIND_COUNTS
from .harness import median
from .trace import PLAN_KEYS, stage_totals

READ_KINDS = tuple(k for k, _ in _KIND_COUNTS)
_READS = ("timeseries.get", "timeseries.series", "timeseries.iterate")
_PLANS = ("timeseries.get_df", "timeseries.series_df")
_WRITES = ("timeseries.insert", "timeseries.bulk_insert")


def names(entries: list[str]) -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out = [
        ("timeseries.scan_ms", "ms", "lower"),
        ("timeseries.plan_ms", "ms", "lower"),
        ("timeseries.execute_ms", "ms", "lower"),
        ("timeseries.shape_ms", "ms", "lower"),
        ("timeseries.read_ms", "ms", "lower"),
        ("timeseries.jobs_per_call", "count", "lower"),
        ("timeseries.rows_collected", "count", "lower"),
    ]
    out += [(f"timeseries.{k}_p50_ms", "ms", "lower") for k in READ_KINDS]
    out += [
        ("timeseries.write_build_ms", "ms", "lower"),
        ("store.create_df_ms", "ms", "lower"),
        ("store.write_ms", "ms", "lower"),
        ("store.files", "count", "lower"),
        ("store.bytes", "B", "lower"),
        ("ingest.ingest_df_ms", "ms", "lower"),
        ("ingest.rows_out", "count", "lower"),
    ]
    out += [(f"plan.{k}", _plan_unit(k), "lower") for k in PLAN_KEYS]
    out += [
        ("plan.rows_scanned_per_row_out", "ratio", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_ms", "ms", "lower"),
        ("spark.executor_cpu_ms", "ms", "lower"),
        ("spark.gc_ms", "ms", "lower"),
        ("trace.overhead_pct", "%", "lower"),
        ("trace.self_share", "ratio", "higher"),
    ]
    out += [(f"query.{e}_s", "s", "lower") for e in entries]
    return out


def _plan_unit(k: str) -> str:
    if k.endswith("_bytes"):
        return "B"
    if k.endswith("_ms"):
        return "ms"
    return "count"


def compute(ctx, ops, extra: dict, entries: list[str]) -> dict:
    rec = ctx.rec
    spans = rec.spans
    by_id = {s["id"]: s for s in spans}
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + _ms(s)

    def self_ms(s):
        return _ms(s) - child_ms.get(s["id"], 0.0)

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    def root_of(s):
        for a in ancestors(s):
            if a["name"] == "op":
                return a
        return None

    roots = [s for s in spans if s["name"] == "op"]
    n = max(len(roots), 1)
    # the plan walks are the tracer's own work: every layer time and the
    # traced latency leave them out
    walk_ms: dict[int, float] = {}
    for s in spans:
        if s["name"] == "trace.walk":
            r = root_of(s)
            walk_ms[r["id"]] = walk_ms.get(r["id"], 0.0) + _ms(s)
    # read-side layers are per traced read, write-side per traced write
    read_roots = [s for s in roots if s["kind"] in READ_KINDS + ("fresh_read",)]
    n_read = max(len(read_roots), 1)
    n_write = max(sum(s["kind"] in ("insert", "bulk_insert") for s in roots), 1)
    acc = dict.fromkeys(
        ("scan", "plan", "execute", "shape", "rows", "build", "create_df", "write", "ingest"), 0.0
    )
    n_ingest = 0
    for s in spans:
        name = s["name"]
        up = [a["name"] for a in ancestors(s)]
        if name == "timeseries.scan":
            acc["scan"] += self_ms(s)
        elif name in _PLANS:
            acc["plan"] += self_ms(s)
        elif name == "createDataFrame" and up and up[0] in _PLANS:
            acc["plan"] += _ms(s)
        elif name == "createDataFrame" and up and up[0] in _WRITES:
            acc["create_df"] += _ms(s)
        elif name == "collect" and any(a in _READS for a in up):
            acc["execute"] += _ms(s)
            acc["rows"] += s.get("rows", 0)
        elif name in _READS:
            acc["shape"] += self_ms(s)
        elif name in _WRITES:
            acc["build"] += self_ms(s)
        elif name == "store.write" and any(a in _WRITES for a in up):
            acc["write"] += _ms(s)
        elif name == "timeseries.ingest_df":
            acc["ingest"] += _ms(s)
            n_ingest += 1

    traced = [op for op in ops.records if op.traced]
    untraced = [op for op in ops.records if not op.traced]
    jobs, stage_ids = ctx.jobs.counts(traced=True)
    stages = stage_totals(ctx.spark, stage_ids)
    plans = {k: sum(p.get(k, 0) for p in rec.plans) for k in PLAN_KEYS}
    # tracing overhead per operation kind, so the kinds that happened to
    # run traced do not weigh in
    ratios = []
    for kind in {op.kind for op in traced}:
        t = [op.ms for op in traced if op.kind == kind]
        u = [op.ms for op in untraced if op.kind == kind]
        if u:
            ratios.append(median(t) / median(u))
    overhead = statistics.geometric_mean(ratios) - 1 if ratios else 0.0
    walked = sum(walk_ms.values())
    root_ms = sum(_ms(s) for s in roots) - walked
    covered = sum(_ms(s) - self_ms(s) for s in roots) - walked

    m = {
        "timeseries.scan_ms": acc["scan"] / n_read,
        "timeseries.plan_ms": acc["plan"] / n_read,
        "timeseries.execute_ms": acc["execute"] / n_read,
        "timeseries.shape_ms": acc["shape"] / n_read,
        # the traced read latency, less the plan walks, that scan + plan
        # + execute + shape split
        "timeseries.read_ms": sum(_ms(s) - walk_ms.get(s["id"], 0.0) for s in read_roots) / n_read,
        "timeseries.jobs_per_call": jobs / n if extra.get("facade") else 0.0,
        "timeseries.rows_collected": acc["rows"] / n_read,
    }
    for k in READ_KINDS:
        m[f"timeseries.{k}_p50_ms"] = median([op.ms for op in untraced if op.kind == k])
    m.update({
        "timeseries.write_build_ms": acc["build"] / n_write,
        "store.create_df_ms": acc["create_df"] / n_write,
        "store.write_ms": acc["write"] / n_write,
        "store.files": extra.get("store_files", 0),
        "store.bytes": extra.get("store_bytes", 0),
        "ingest.ingest_df_ms": acc["ingest"] / max(n_ingest, 1),
        "ingest.rows_out": extra.get("ingest_rows", 0),
    })
    for k in PLAN_KEYS:
        m[f"plan.{k}"] = plans[k] / n
    m.update({
        "plan.rows_scanned_per_row_out": plans["scan_rows"] / plans["rows_out"] if plans["rows_out"] else 0.0,
        "spark.jobs": jobs / n,
        "spark.tasks": stages["tasks"] / n,
        "spark.executor_run_ms": stages["executor_run_ms"] / n,
        "spark.executor_cpu_ms": stages["executor_cpu_ms"] / n,
        "spark.gc_ms": stages["gc_ms"] / n,
        "trace.overhead_pct": overhead * 100,
        "trace.self_share": covered / root_ms if root_ms else 0.0,
    })
    for e in entries:
        m[f"query.{e}_s"] = median([op.ms / 1e3 for op in untraced if op.kind == e])
    return m


def _ms(s) -> float:
    return (s["end"] - s["start"]) * 1e3
