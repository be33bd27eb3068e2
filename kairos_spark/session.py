"""SparkSession configuration for this engine, one place instead of
scattered builder chains.

``local_builder`` is the single-machine session every script and the
test suite start: ``local[cores]``, UTC, ``shuffle.partitions = cores``
and the UI off. App name, cores and driver memory are the only values
its callers vary; anything else (an A/B conf, the determinism pass's
AQE switch) is a ``.config`` on the returned builder.

``configured_builder`` returns a builder with the settings every
deployment of this engine wants; callers override per-environment
(master, memory) and call ``.getOrCreate()``. The defaults are chosen
for the 100 TB design point and are no-ops or harmless at test scale:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion) — the single biggest lever for plans whose
  cardinalities the optimizer can't know up front (near-dup candidate
  counts, session lengths).
- ``spark.sql.session.timeZone=UTC`` — bucket math is UTC by contract
  (SURVEY.md §7 "Local vs UTC"); a non-UTC session would silently
  shift Gregorian buckets.
- shuffle partitions sized to cores at test scale; at cluster scale
  set ``default_shuffle_partitions(input_bytes)`` instead — the rule
  of thumb is one partition per ~128-200 MB of shuffle input, and AQE
  coalesces the tail.
- ``maxPartitionBytes=128m`` keeps scan tasks at a size where a 100 TB
  input becomes ~800k tasks — large enough to amortize scheduling,
  small enough that one straggling row group doesn't stall a stage.
- Arrow enabled for the Pandas-UDF paths (multimodal decode,
  stateful sessionization) — Arrow batch transfer is what makes those
  viable at all (~10-100x over row pickling).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def configured_builder(
    app_name: str = "kairos_spark",
    cores: int | None = None,
) -> SparkSession.Builder:
    """Builder with engine defaults; caller sets master/memory and
    calls getOrCreate()."""
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if cores:
        b = b.config("spark.sql.shuffle.partitions", str(cores))
    return b


def local_builder(
    app_name: str,
    cores: int | str,
    driver_memory: str | None = None,
) -> SparkSession.Builder:
    """Builder for a ``local[cores]`` session with the UTC contract;
    caller adds overrides and calls getOrCreate()."""
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    return b


def default_shuffle_partitions(shuffle_input_bytes: int, target_mb: int = 160) -> int:
    """Partition-count rule of thumb for a known shuffle volume: one
    partition per ~``target_mb`` MB, floor 2× so AQE has room to
    coalesce down rather than split up."""
    return max(8, 2 * (shuffle_input_bytes // (target_mb << 20) + 1))
