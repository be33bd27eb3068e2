"""Registry sweep: the local mirror of the driver's correctness gate and
the CLAUDE.md output invariants, in one pass over queries().

Each entry is built and collected once on Spark, and its oracle_sql()
twin runs on DuckDB. Three checks read those rows (top-level cells):

- PASS/FAIL: row count, column names and order-insensitive values
  against the oracle (ROWS for an entry without an oracle);
- NULLS: a NULL or NaN cell in the Spark output. NULLs that match the
  oracle today are still latent hash bombs: Spark None and DuckDB NaN
  canonicalize differently once the column's pandas dtype shifts;
- NEGZERO: a -0.0 float cell in the Spark output or the oracle frame.
  Spark's round(x, 6) drops a zero's sign where DuckDB's keeps it, and
  "-0.0" is its own value in the driver's hash. Normalize with + 0.0 or
  route through _round6_bridge.

--determinism turns AQE off, runs that pass at 32 shuffle partitions and
a second build of every entry at 7, and reports DIFF when the two
canonical outputs differ by repr (a zero-sign flip counts). A diff is a
latent driver-gate failure: the driver runs at its own parallelism, so a
float sum merged in partition order can round differently there. Fix by
summing through DECIMAL or an exact integer-ratio helper.

Usage: python tools/check_correctness.py [--determinism] [name ...]
Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01). Exit 1 on
any FAIL, NULLS, NEGZERO or DIFF.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from kairos_spark.session import local_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(rows, cols):
    # Type-tag numerics so int vs float skew fails here exactly like it
    # fails the driver's value hash (DuckDB HUGEINT sums land in pandas
    # as float64 "123.0" while Spark bigint is "123"; Python's 3 == 3.0
    # would otherwise hide that). Bools are tagged separately because
    # Python bool is Integral but np.bool_ is not.
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, (bool, np.bool_)):
                v = ("b", bool(v))
            elif isinstance(v, float):  # covers np.float64
                v = "NaN" if math.isnan(v) else ("f", round(float(v), 6))
            elif isinstance(v, (int, np.integer)):
                v = ("i", int(v))
            vals.append((c, v))
        out.append(tuple(vals))
    out.sort(key=lambda t: str(t))
    return out


def neg_zeros(df) -> dict:
    """Per-column count of -0.0 cells in a pandas frame."""
    bad = {}
    for c in df.columns:
        v = df[c]
        if v.dtype.kind != "f":
            continue
        arr = v.to_numpy()
        n = int(((arr == 0.0) & np.signbit(arr)).sum())
        if n:
            bad[c] = n
    return bad


def compare(srows, scols, odf) -> list[str]:
    """Problems of the Spark rows against the oracle frame; [] on a match."""
    ocols = sorted(odf.columns)
    orows = odf.to_dict("records")
    problems = []
    if scols != ocols:
        problems.append(f"cols spark={scols} oracle={ocols}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        s_can = canon([r.asDict() for r in srows], scols)
        o_can = canon(orows, ocols)
        if s_can != o_can:
            diff_i = next(
                (i for i, (a, b) in enumerate(zip(s_can, o_can)) if a != b), None
            )
            problems.append(
                f"values differ; first diff idx {diff_i}:\n"
                f"    spark : {s_can[diff_i] if diff_i is not None else None}\n"
                f"    oracle: {o_can[diff_i] if diff_i is not None else None}"
            )
    return problems


def check(sdf, odf):
    """Collect ``sdf`` once and run the three checks on its rows against
    the oracle frame ``odf`` (None: rows-only). Returns the collected
    rows and the fired flags as (tag, detail) pairs, the verdict first."""
    srows = sdf.collect()
    scols = sorted(sdf.columns)
    if odf is None:
        flags = [("ROWS", f"{len(srows)} rows [rows-only]")]
    else:
        problems = compare(srows, scols, odf)
        flags = [("FAIL", "; ".join(problems)) if problems
                 else ("PASS", f"{len(srows)} rows")]
    nulls, negz = Counter(), Counter()
    for row in srows:
        for c, v in zip(sdf.columns, row):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                nulls[c] += 1
            elif isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0:
                negz[c] += 1
    if nulls:
        flags.append(("NULLS", str({c: nulls[c] for c in sdf.columns if nulls[c]})))
    sbad = {c: negz[c] for c in sdf.columns if negz[c]}
    obad = neg_zeros(odf) if odf is not None else {}
    if sbad or obad:
        flags.append(("NEGZERO", f"spark={sbad} oracle={obad}"))
    return srows, flags


def partition_diff(a_rows, b_rows, cols) -> int:
    """Rows whose canonical repr differs between two runs of one entry."""
    a = [repr(t) for t in canon([r.asDict() for r in a_rows], cols)]
    b = [repr(t) for t in canon([r.asDict() for r in b_rows], cols)]
    return sum(x != y for x, y in zip(a, b)) + abs(len(a) - len(b))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="entries to sweep (default: all)")
    ap.add_argument("--determinism", action="store_true",
                    help="AQE off; compare each entry at 32 vs 7 shuffle partitions")
    args = ap.parse_args()
    only = set(args.names)
    builder = local_builder("kairos_spark-sweep", 8, "8g")
    if args.determinism:
        builder = builder.config("spark.sql.adaptive.enabled", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    tally = Counter()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if args.determinism:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        try:
            odf = con.execute(oracles[name]).df() if name in oracles else None
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            tally["FAIL"] += 1
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows, flags = check(sdf, odf)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            tally["FAIL"] += 1
            continue
        if args.determinism:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            try:
                n = partition_diff(srows, fn(spark, SF_DIR).collect(),
                                   sorted(sdf.columns))
            except Exception as e:
                flags.append(("DIFF", f"second pass error: {e}"))
            else:
                if n:
                    flags.append(("DIFF", f"{n} rows differ across partitionings"))
        for tag, detail in flags:
            tally[tag] += 1
            print(f"{tag:5s} {name}: {detail} ({time.time() - t0:.1f}s)")
    print(
        f"\n{tally['PASS']} passed, {tally['FAIL']} failed, {tally['ROWS']} rows-only;"
        f" {tally['NULLS']} with NULLs, {tally['NEGZERO']} with signed zeros"
        + (f", {tally['DIFF']} partition-sensitive" if args.determinism else "")
    )
    return 1 if any(tally[k] for k in ("FAIL", "NULLS", "NEGZERO", "DIFF")) else 0


if __name__ == "__main__":
    sys.exit(main())
