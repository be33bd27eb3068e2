"""The registry sweep's per-query checks (tools/check_correctness.py):
one collect feeds the oracle compare, the NULL/NaN check and the
signed-zero check, and the determinism pass compares by repr."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Row

from tools.check_correctness import check, partition_diff

SCHEMA = "k long, v double, nan double, z double, s string"
ORACLE = pd.DataFrame({"k": [1], "v": [0.5], "nan": [1.0], "z": [0.0], "s": ["a"]})


def test_check_flags_fire_in_one_pass(spark):
    planted = spark.createDataFrame(
        [(1, 0.75, float("nan"), -0.0, None)], SCHEMA
    )
    rows, flags = check(planted, ORACLE)
    tags = dict(flags)
    assert [t for t, _ in flags] == ["FAIL", "NULLS", "NEGZERO"]
    assert "values differ" in tags["FAIL"]
    assert tags["NULLS"] == "{'nan': 1, 's': 1}"
    assert tags["NEGZERO"] == "spark={'z': 1} oracle={}"
    assert len(rows) == 1

    clean = spark.createDataFrame([(1, 0.5, 1.0, 0.0, "a")], SCHEMA)
    assert check(clean, ORACLE)[1] == [("PASS", "1 rows")]
    # the oracle frame is audited for -0.0 too; no oracle means rows-only
    neg_oracle = ORACLE.assign(z=[-0.0])
    assert check(clean, neg_oracle)[1][1] == ("NEGZERO", "spark={} oracle={'z': 1}")
    assert check(clean, None)[1] == [("ROWS", "1 rows [rows-only]")]


def test_partition_diff_counts_zero_sign_flips():
    a = [Row(k=1, v=0.0), Row(k=2, v=1.25)]
    assert partition_diff(a, [Row(k=2, v=1.25), Row(k=1, v=0.0)], ["k", "v"]) == 0
    assert partition_diff(a, [Row(k=1, v=-0.0), Row(k=2, v=1.25)], ["k", "v"]) == 1
    assert partition_diff(a, a[:1], ["k", "v"]) == 1
