"""The two workloads behind one interface, and the metrics they report.

End-to-end metrics are the same for both workloads. Reads and writes
are gated apart, so no gate depends on how many reads a workload makes
per write:

| workload       | read                                 | write                         | point       |
|----------------|--------------------------------------|-------------------------------|-------------|
| ts_facade      | one facade get / series / iterate    | one insert or bulk_insert     | one value   |
| batch_pipeline | one registry entry, built, collected | one ingest_df, 1/4 of events | one event   |
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field

from . import batch, facade, gen, layers
from .harness import median, quantile

# (name, unit, better, bound)
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("reads_per_s", "1/s", "higher", 0.25),
    ("writes_per_s", "1/s", "higher", 0.25),
    ("points_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
)
PER_LAYER = layers.names(batch.ENTRIES)
WRITE_KINDS = ("insert", "bulk_insert", "ingest_df")


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)  # name -> (value, unit, note)
    wrong: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    measured: dict = field(default_factory=dict)


class Workload:
    facade = False
    read_kinds: tuple = ()
    read_what = write_what = ""

    def set_up(self, ctx) -> tuple[object, float, str]:
        """Build the inputs; returns (state, set-up seconds, note)."""
        raise NotImplementedError

    def warm(self, ctx, state):
        raise NotImplementedError

    def measure(self, ctx, state) -> dict:
        raise NotImplementedError

    def summarize(self, ctx, res: dict, r: Result, untraced: list):
        raise NotImplementedError

    def layer_extra(self, ctx, r: Result) -> dict:
        return {}

    def execute(self, ctx, jvm_s: float) -> Result:
        """Set up (traced in a traced run), warm up, measure."""
        if ctx.rec is not None:
            ctx.rec.enabled = True
        try:
            state, setup_s, note = self.set_up(ctx)
        finally:
            if ctx.rec is not None:
                ctx.rec.enabled = False
        t0 = time.perf_counter()
        self.warm(ctx, state)
        warm_s = time.perf_counter() - t0
        res = self.measure(ctx, state)
        r = Result(measured=res, wrong=res["wrong"])
        r.e2e["setup_s"] = jvm_s + setup_s + warm_s
        r.report["setup_s"] = (r.e2e["setup_s"], "s", f"jvm {jvm_s:.2f} + {note} + warm-up {warm_s:.2f}")
        recs = res["ops"].records
        r.attempted = len(recs)
        r.failed = sum(not op.ok for op in recs)
        r.errors = [{"kind": op.kind, "error": op.error} for op in recs if op.error][:20]
        untraced = [op for op in recs if not op.traced]
        reads = [op.ms for op in untraced if op.kind in self.read_kinds]
        writes = [op.ms for op in untraced if op.kind in WRITE_KINDS]
        # Every round (cycle, pass) holds the same calls, so these rates
        # are of a fixed mix. They are the gates: over 5-10 seeds their
        # quartile spread was about two thirds that of the medians, which
        # move with the few slowest calls of the mix.
        write_s = sum(op.ms for op in recs if op.kind in WRITE_KINDS) / 1e3
        r.e2e["reads_per_s"] = len(reads) / (sum(reads) / 1e3)
        r.e2e["writes_per_s"] = len(writes) / (sum(writes) / 1e3)
        r.e2e["points_per_s"] = res["points"] / write_s
        r.report["reads_per_s"] = (r.e2e["reads_per_s"], "1/s", f"n={len(reads)} {self.read_what}")
        r.report["read_p50_ms"] = (median(reads), "ms", f"n={len(reads)}")
        r.report["read_p75_ms"] = (quantile(reads, 0.75), "ms", f"n={len(reads)}, {_beyond(reads, 0.75)} beyond")
        r.report["read_p95_ms"] = (quantile(reads, 0.95), "ms", f"n={len(reads)}, {_beyond(reads, 0.95)} beyond")
        r.report["writes_per_s"] = (r.e2e["writes_per_s"], "1/s", f"n={len(writes)} {self.write_what}")
        r.report["write_p50_ms"] = (median(writes), "ms", f"n={len(writes)}")
        r.report["write_p95_ms"] = (quantile(writes, 0.95), "ms", f"n={len(writes)}, {_beyond(writes, 0.95)} beyond")
        r.report["points_per_s"] = (r.e2e["points_per_s"], "1/s", f"{res['points']} points in {write_s:.2f} s")
        self.summarize(ctx, res, r, untraced)
        return r

    def per_layer(self, ctx, r: Result) -> dict:
        extra = {"facade": self.facade, **self.layer_extra(ctx, r)}
        return layers.compute(ctx, r.measured["ops"], extra, batch.ENTRIES)


def _beyond(ms: list, q: float) -> int:
    return len(ms) - int(q * len(ms)) - 1


class TsFacade(Workload):
    facade = True
    read_kinds = layers.READ_KINDS
    read_what = "facade get/series/iterate calls, whole cycles of the call mix"
    write_what = "insert/bulk_insert calls"

    def set_up(self, ctx):
        state, gen_s, loads = facade.prepare(ctx, ctx.work / "input")
        return state, gen_s + sum(loads), f"input {gen_s:.2f} + 5 store loads {sum(loads):.2f}"

    def warm(self, ctx, state):
        facade.run(ctx, state, warm=True)
        shutil.rmtree(state["dir"] / "warm", ignore_errors=True)

    def measure(self, ctx, state):
        res = facade.run(ctx, state)
        res["input_dir"] = state["dir"]
        return res

    def summarize(self, ctx, res, r, calls):
        fresh = [op.ms for op in calls if op.kind == "fresh_read"]
        r.report["fresh_read_p50_ms"] = (median(fresh), "ms", f"n={len(fresh)}")
        r.report["stored_bytes_per_point"] = (
            res["store_bytes"] / res["points"], "B", f"{res['store_files']} files",
        )
        for k in layers.READ_KINDS:
            r.report[f"read_{k}_p50_ms"] = (median([op.ms for op in calls if op.kind == k]), "ms", "")
        for label, ops in sorted(res["writes_by_size"].items()):
            ms = [op.ms for op in ops if not op.traced]
            r.report[f"write_{label}_p50_ms"] = (median(ms), "ms", f"n={len(ms)}")

    def layer_extra(self, ctx, r):
        from pyarrow import parquet as pq

        read_dir = r.measured["input_dir"] / "read"
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in read_dir.rglob("*.parquet"))
        return {"store_files": r.measured["store_files"], "store_bytes": r.measured["store_bytes"],
                "ingest_rows": rows / len(gen.TYPES)}


class BatchPipeline(Workload):
    read_kinds = tuple(batch.ENTRIES)
    read_what = "registry entries"
    write_what = f"ingest_df calls of 1/{batch.CHUNKS} of the events"

    def set_up(self, ctx):
        t0 = time.perf_counter()
        dirs = batch.prepare(ctx, ctx.work / "input")
        gen_s = time.perf_counter() - t0
        return dirs, gen_s, f"input {gen_s:.2f}"

    def warm(self, ctx, dirs):
        batch.run_batch(ctx, dirs, None)

    def measure(self, ctx, dirs):
        expected = dict(batch.oracle_digests(ctx, dirs),
                        load=batch.expected_load(str(dirs["rollup"] / "events.parquet")))
        return batch.run_batch(ctx, dirs, expected)

    def summarize(self, ctx, res, r, recs):
        for e in batch.ENTRIES:
            r.report[f"entry.{e}_ms"] = (median([op.ms for op in recs if op.kind == e]), "ms", "")
        if ctx.rec is None:
            r.report["batch_s"] = (median(res["passes"]), "s",
                                   f"median of {len(res['passes'])} passes over {len(batch.ENTRIES)} entries")

    def layer_extra(self, ctx, r):
        return {"ingest_rows": median(r.measured["rows_per_load"])}


WORKLOADS = {"ts_facade": TsFacade, "batch_pipeline": BatchPipeline}
