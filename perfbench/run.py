"""Benchmark of kairos_spark: two workloads, one command.

    python3 perfbench/run.py --workload ts_facade --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Prints one report line per metric and,
as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones from a
traced run. Exits 1 if any output is wrong, 2 if the checkout is
incomplete. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("ts_facade", "batch_pipeline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-error", action="store_true",
                   help="corrupt one expected result, to show that checks fail")
    return p.parse_args(argv)


def driver_memory() -> str:
    """A quarter of the machine's memory, between 1 and 2 GiB: the
    inputs are a few MB, and a smaller heap keeps peak RSS steadier."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return f"{max(1024, min(2048, total_kb // 4 // 1024))}m"


def start_spark(work: Path):
    from kairos_spark.session import configured_builder

    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    spark = (
        configured_builder("perfbench", cores=cores)
        .master(f"local[{cores}]")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(200_000).selectExpr("sum(id)").collect()
    return spark, cores


def metadata(spark, cores) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": cores,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "java": sc._gateway.jvm.System.getProperty("java.version"),
        "spark_conf": dict(sorted(sc.getConf().getAll())),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kairos_spark" / "timeseries.py").is_file() or not (ROOT / "tools").is_dir():
        print(f"perfbench: no kairos_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # keep every file the run writes, the JVM's included, in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # on SIGTERM, unwind through the finally blocks so Spark stops
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path) -> int:
    from perfbench import workloads
    from perfbench.harness import Ctx, vm_hwm_mb
    from perfbench.trace import JobGroups, Recorder

    t0 = time.perf_counter()
    spark, cores = start_spark(work)
    jvm_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, args.seed, args.seconds, work, ROOT / ".perfbench_cache",
                  plant_error=args.plant_error)
        if args.trace:
            ctx.rec = Recorder()
            ctx.jobs = JobGroups(spark)
            ctx.rec.install()
        w = workloads.WORKLOADS[args.workload]()
        result = w.execute(ctx, jvm_s)
        result.e2e["peak_rss_mb"] = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb()
        meta = metadata(spark, cores)
        per_layer = {}
        if args.trace:
            per_layer = w.per_layer(ctx, result)
            ctx.rec.dump(results_dir() / f"{stem(args)}-spans.json")
    finally:
        if args.trace and ctx.rec is not None:
            ctx.rec.uninstall()
        stop_spark(spark)
    return report(args, result, meta, per_layer)


def stop_spark(spark):
    """Stop Spark and wait for the driver JVM to exit; it exits when its
    stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def results_dir() -> Path:
    out = ROOT / ".perfbench_results"
    out.mkdir(exist_ok=True)
    return out


def stem(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}"


def report(args, result, meta, per_layer) -> int:
    from perfbench.workloads import E2E, PER_LAYER

    attempted, failed = result.attempted, result.failed
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"nproc={meta['nproc']} parallelism={meta['default_parallelism']} "
          f"pyspark={meta['pyspark']} java={meta['java']} "
          f"driver_memory={meta['spark_conf'].get('spark.driver.memory')}")
    print(f"error_rate = {failed / attempted if attempted else 1.0:.6f} ratio "
          f"({failed} failed or wrong of {attempted})")
    for name, (value, unit, note) in result.report.items():
        print(f"{name} = {value:.6g} {unit}" + (f" ({note})" if note else ""))
    for w in result.wrong[:5]:
        print(f"WRONG {json.dumps(w, default=str)[:400]}")
    if args.trace:
        metrics = {n: {"value": float(per_layer[n]), "unit": u} for n, u, _ in PER_LAYER}
        for n, v in metrics.items():
            print(f"{n} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {n: {"value": float(result.e2e[n]), "unit": u} for n, u, _, _ in E2E}
    detail = {"args": vars(args), "meta": meta, "report": result.report,
              "wrong": result.wrong, "errors": result.errors, "metrics": metrics,
              "ops": [(op.kind, round(op.ms, 3), op.traced) for op in result.measured["ops"].records]}
    (results_dir() / f"{stem(args)}.json").write_text(json.dumps(detail, indent=1, default=str))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
