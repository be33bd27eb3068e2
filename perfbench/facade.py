"""The facade workload: ts_facade.

One caller drives ``kairos_spark.Timeseries`` in a closed loop (the next
call starts when the previous one returned): reads against parquet
stores loaded with ``ingest_df``, point and bulk writes into empty
parquet stores, and a read of the bucket just written. Every result is
compared with the plain-Python model in model.py.
"""

from __future__ import annotations

import itertools
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from kairos_spark import Timeseries

from . import gen
from .harness import Ctx, Ops, dir_stats, next_round_fits
from .model import COLLAPSE_TRANSFORM, ReadModel, WriteModel, same

# untimed cycles before measuring, counted in setup_s: after one, the
# read medians of later cycles show no further downward trend
WARM_CYCLES = 1


def prepare(ctx: Ctx, out_dir):
    """Generate the events and ingest them into one parquet store per
    series type; create one empty store per type for writes.
    Returns (state, generation seconds, seconds of each store's load)."""
    t0 = time.perf_counter()
    ev = gen.facade_events(ctx.seed)
    cols = ev["cols"]
    pdf = pd.DataFrame({"name": cols["name"], "ts": cols["ts"]})
    for typ in gen.TYPES:
        pdf[f"v_{typ}"] = [gen.type_value(typ, v) for v in cols["value"]]
    events = ctx.spark.createDataFrame(pdf).withColumn("ts", F.timestamp_seconds("ts"))
    shutil.rmtree(out_dir, ignore_errors=True)
    gen_s = time.perf_counter() - t0
    reads, loads = {}, []
    for typ in gen.TYPES:
        t0 = time.perf_counter()
        ts = Timeseries(ctx.spark, type=typ, intervals=gen.INTERVALS, path=str(out_dir / "read" / typ))
        ts.ingest_df(events.select("name", "ts", F.col(f"v_{typ}").alias("value")))
        reads[typ] = ts
        loads.append(time.perf_counter() - t0)
    state = {
        "reads": reads,
        "model": ReadModel(ev["per_name"]),
        "writes": _write_stores(ctx, out_dir / "write"),
        "dir": out_dir,
    }
    return state, gen_s, loads


def _write_stores(ctx: Ctx, path):
    return {
        typ: Timeseries(ctx.spark, type=typ, intervals=gen.INTERVALS, path=str(path / typ))
        for typ in gen.TYPES
    }


def read_call(stores: dict, call: dict):
    s = stores[call["type"]]
    kind, name, t = call["kind"], call["name"], call["ts"]
    if kind == "get":
        return s.get(name, "hour", timestamp=t)
    if kind == "get_condensed":
        return s.get(name, "hour", timestamp=t, condense=True)
    if kind == "series_coarse":
        return s.series(name, "minute", end=t, steps=30)
    if kind == "series_fine":
        return s.series(name, "hour", end=t, steps=2)
    if kind == "series_collapse":
        return s.series(name, "hour", end=t, steps=6, collapse=True,
                        transform=COLLAPSE_TRANSFORM[call["type"]])
    if kind == "series_gregorian":
        step = call["gregorian"]
        return s.series(name, step, end=t, steps=7 if step == "daily" else 3)
    if kind == "multi_name":
        return s.get(call["names"], "hour", timestamp=t, condense=True)
    if kind == "iterate":
        return list(s.iterate(call["burst"], "hour"))
    raise ValueError(kind)


def _bulk(points) -> dict:
    batch: dict = {}
    for name, ts, v in points:
        batch.setdefault(ts, {}).setdefault(name, []).append(v)
    return batch


def write_call(stores: dict, call: dict):
    store = stores[call["type"]]
    if call["kind"] == "insert":
        name, ts, v = call["points"][0]
        store.insert(name, v, timestamp=ts)
    else:
        store.bulk_insert(_bulk(call["points"]))


def _model_add(model: WriteModel, call):
    """Apply a write to the model in the order the facade assigns
    insert sequence numbers (bulk_insert walks ts, then name)."""
    for ts, names in _bulk(call["points"]).items():
        for name, vals in names.items():
            for v in vals:
                model.add(call["type"], name, ts, v)


def run(ctx: Ctx, state: dict, warm: bool = False) -> dict:
    """Whole cycles of the call stream for about ``ctx.seconds`` (see
    next_round_fits); with ``warm``, WARM_CYCLES unchecked cycles into
    throw-away stores."""
    if warm:
        calls = itertools.islice(gen.facade_calls(ctx.seed + 10**6), WARM_CYCLES * gen.CYCLE)
        writes = _write_stores(ctx, state["dir"] / "warm")
    else:
        calls = gen.facade_calls(ctx.seed)
        writes = state["writes"]
    reads, model = state["reads"], state["model"]
    traced = False if warm else None  # warm-up is never traced
    written = WriteModel()
    ops = Ops()
    wrong = []
    points = 0
    by_size: dict[str, list] = {}  # insert, bulk1 .. bulk1000
    deadline = time.perf_counter() + ctx.seconds
    cycles: list[float] = []
    for i, call in enumerate(calls):
        if not warm and i % gen.CYCLE == 0:
            now = time.perf_counter()
            if i:
                cycles.append(now - cycle_start)
            if not next_round_fits(deadline, cycles):
                break
            cycle_start = now
        kind = call["kind"]
        if kind in ("insert", "bulk_insert"):
            _, op = ops.run(ctx, kind, lambda: write_call(writes, call), traced)
            label = kind if kind == "insert" else f"bulk{len(call['points'])}"
            by_size.setdefault(label, []).append(op)
            if op.ok:
                _model_add(written, call)
                points += len(call["points"])
            continue
        if kind == "fresh_read":
            out, op = ops.run(ctx, kind, lambda: writes[call["type"]].get(call["name"], "minute", timestamp=call["ts"]),
                             traced)
        else:
            out, op = ops.run(ctx, kind, lambda: read_call(reads, call), traced)
        if not op.ok or warm:
            continue
        if kind == "fresh_read":
            exp = written.fresh(call["type"], call["name"], call["ts"])
        else:
            exp = model.expected(call["type"], call)
        if ctx.plant_error and not wrong and i < gen.CYCLE:
            exp = {"planted": exp}
        if not same(_plain(out), exp):
            op.ok = False
            wrong.append({"call": call, "got": repr(_plain(out))[:300], "want": repr(exp)[:300]})
    files = size = 0
    for typ in gen.TYPES:
        f, b = dir_stats(state["dir"] / "write" / typ)
        files, size = files + f, size + b
    return {"ops": ops, "wrong": wrong, "points": points, "writes_by_size": by_size,
            "store_files": files, "store_bytes": size}


def _plain(v):
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    return v
