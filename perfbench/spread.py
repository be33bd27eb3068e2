"""Run one workload on several seeds and print, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median next to the
metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload ts_facade --seeds 1-10

Run from the root of a checkout. Each run is a separate process, with
the command and run length that BENCHMARK.json gives.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", type=seed_range)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        t0 = time.time()
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
        out = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed}: rc={proc.returncode} wall={time.time() - t0:.1f}s "
              f"correct={out.get('correct')} attempted={out.get('attempted')} failed={out.get('failed')}",
              flush=True)
        for name, v in out.get("metrics", {}).items():
            values[name].append(v["value"])
            print(f"    {name} = {v['value']:.6g}", flush=True)
    ok = True
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread <= m["bound"] / 3 else ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
        ok &= spread <= m["bound"]
        print(f"{m['name']:>18}: median {med:.6g} {m['unit']}, spread {spread:.4f} (bound {m['bound']}){flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
